package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The engine sees only what these produce:
  * the same seed yields the same tables, topic records and admission
  * batches, byte for byte; another seed yields other ones. */
object Gen {

  /** A stream of the run's randomness, split per purpose so adding a
    * draw in one generator never shifts another's. */
  def rng(seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  // ------------------------------------------------------------ tables

  val vocab: IndexedSeq[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val langs = Vector("en", "en", "en", "en", "en", "en", "zh", "zh",
    "es", "es", "fr", "fr", "de", "de")

  /** Row counts of the generated tables at scale factor `sf`. */
  final case class Sizes(customers: Int, suppliers: Int, parts: Int, orders: Int,
                         events: Int, users: Int, documents: Int, embeddings: Int)
  def sizes(sf: Double): Sizes = Sizes(
    customers = math.max(50, (150000 * sf).toInt),
    suppliers = math.max(10, (10000 * sf).toInt),
    parts = math.max(100, (200000 * sf).toInt),
    orders = math.max(500, (1500000 * sf).toInt),
    events = math.max(1000, (1000000 * sf).toInt),
    users = math.max(20, (15000 * sf).toInt),
    documents = math.max(100, (50000 * sf).toInt),
    embeddings = math.max(100, (20000 * sf).toInt))

  private def nullable(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** The tables the queries read (`only` of them when given), in the
    * layout `graft.Tables` loads: one parquet directory per table. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, sf: Double,
                  only: Set[String] = graft.Tables.names.toSet): Unit = {
    val n = sizes(sf)
    def write(name: String, schema: StructType, rows: => Seq[Row]): Unit =
      if (only.contains(name))
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", nullable("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", nullable("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(seed, "customer")
    write("customer", nullable("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until n.customers).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        round2(rc.nextDouble(-999.99, 9999.99)), segments(rc.nextInt(segments.size)))))

    val rs = rng(seed, "supplier")
    write("supplier", nullable("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until n.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        round2(rs.nextDouble(-999.99, 9999.99)))))

    val colors = Vector("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val things = Vector("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Vector("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(seed, "part")
    write("part", nullable("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until n.parts).map(i => Row(i.toLong,
        s"${colors(rp.nextInt(colors.size))} ${things(rp.nextInt(things.size))}",
        s"Brand#${1 + rp.nextInt(25)}", types(rp.nextInt(types.size)), 1 + rp.nextInt(50),
        round2(900.0 + (i % 1000) / 10.0))))

    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val statuses = Vector("F", "O", "P")
    val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(seed, "orders")
    val rdays = rng(seed, "orderdays")
    val orderDays = Array.fill(n.orders)(rdays.nextInt(2404))
    write("orders", nullable("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until n.orders).map { i =>
        Row(i.toLong, ro.nextInt(n.customers).toLong, statuses(ro.nextInt(3)),
          round2(ro.nextDouble(1000.0, 500000.0)), day0.plusDays(orderDays(i).toLong),
          priorities(ro.nextInt(5)))
      })

    val rl = rng(seed, "lineitem")
    val flags = Vector("A", "N", "R")
    def lines = (0 until n.orders).flatMap { o =>
      (1 to 1 + rl.nextInt(7)).map { ln =>
        Row(o.toLong, rl.nextInt(n.parts).toLong, rl.nextInt(n.suppliers).toLong, ln,
          (1 + rl.nextInt(50)).toDouble, round2(rl.nextDouble(900.0, 105000.0)),
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, flags(rl.nextInt(3)),
          if (rl.nextBoolean()) "O" else "F",
          day0.plusDays((orderDays(o) + 1 + rl.nextInt(121)).toLong))
      }
    }
    write("lineitem", nullable("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType), lines)

    val eventTypes = Vector("click", "error", "purchase", "signup", "view")
    val re = rng(seed, "events")
    val monthMicros = 30L * 24 * 3600 * 1000000L
    val ts = Array.fill(n.events)(re.nextLong(monthMicros)).sorted
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", nullable("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until n.events).map(i => Row(i.toLong, t0.plusNanos(ts(i) * 1000L),
        re.nextInt(n.users).toLong, eventTypes(re.nextInt(5)),
        round2(-80.0 * math.log(1.0 - re.nextDouble())),
        s"""{"k": ${re.nextInt(100)}}""")))

    val rd = rng(seed, "documents")
    val texts = new Array[String](n.documents)
    write("documents", nullable("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until n.documents).map { i =>
        // one document in twenty re-publishes an earlier one with a
        // trailing marker: the near-duplicates the dedup operators find
        texts(i) =
          if (i > 0 && rd.nextInt(20) == 0) texts(rd.nextInt(i)) + " dup"
          else Seq.fill(10 + rd.nextInt(91))(vocab(rd.nextInt(vocab.size))).mkString(" ")
        Row(i.toLong, texts(i), langs(rd.nextInt(langs.size)), s"src${rd.nextInt(20)}",
          texts(i).length.toLong)
      })

    val rv = rng(seed, "embeddings")
    write("embeddings", nullable("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true), "label" -> IntegerType),
      (0 until n.embeddings).map(i => Row(i.toLong, unitVector(rv, 64).map(_.toFloat).toSeq,
        rv.nextInt(10))))
  }

  /** A uniformly random direction in `dim` dimensions. */
  def unitVector(r: SplittableRandom, dim: Int): Array[Double] = {
    val v = Array.fill(dim) {
      // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
      val u = 1.0 - r.nextDouble()
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  // ------------------------------------------------------------ orders

  /** One sink row as the generator intends it: the columns the check
    * compares against the upserted table, keyed on (purchaseOrderId, sku). */
  final case class OrderRow(purchaseOrderId: Long, sku: String, lineNumber: Int,
                            quantity: Int, chargeAmount: BigDecimal, status: String,
                            statusDate: Long, email: String)

  /** One topic record: its partition, payload, and the rows it writes
    * (empty for a malformed message). */
  final case class OrderMessage(partition: Int, json: String, rows: Seq[OrderRow])

  val partitions = 3
  private val lineStatuses = Vector("Acknowledged", "Shipped", "Delivered", "Cancelled")

  /** `n` order messages in production order. A new order has one line
    * nine times in ten, two lines 9% and three 1% of the time (mean
    * 1.11: the reference's daily dumps flatten about 1,000 orders into
    * about 1,100 lines). One message in eight re-sends an earlier order
    * with advanced line statuses (the UPDATE path of the upsert) and one
    * in fifty is malformed JSON; those two shares are the benchmark's own
    * choice. A quarter of the single-line messages carry `orderLine` as
    * one struct instead of an array, the other shape the parser accepts.
    * Messages are keyed by order id, so every version of an order lands
    * on one partition and last-write-wins per (purchaseOrderId, sku) is
    * well defined. */
  def orderMessages(seed: Long, stream: String, firstOrderId: Long, n: Int): Vector[OrderMessage] = {
    val r = rng(seed, s"orders-$stream")
    val sent = scala.collection.mutable.ArrayBuffer[Seq[OrderRow]]()
    val out = Vector.newBuilder[OrderMessage]
    var nextId = firstOrderId
    (0 until n).foreach { _ =>
      val roll = r.nextInt(100)
      if (roll < 2) {
        out += OrderMessage(r.nextInt(partitions),
          s"""{"purchaseOrderId": "${r.nextInt(1000000)}", "orderLines": BROKEN""", Nil)
      } else if (roll < 14 && sent.nonEmpty) {
        val prev = sent(r.nextInt(sent.size))
        val t = prev.head.statusDate + 3600000L * (1 + r.nextInt(48))
        val rows = prev.map(l => l.copy(
          status = lineStatuses(math.min(lineStatuses.size - 1,
            lineStatuses.indexOf(l.status) + 1 + r.nextInt(2))),
          statusDate = t))
        sent += rows
        out += OrderMessage((rows.head.purchaseOrderId % partitions).toInt,
          orderJson(rows, single = rows.size == 1 && r.nextInt(4) == 0), rows)
      } else {
        val po = nextId
        nextId += 1
        val email = s"user${r.nextInt(5000)}@example.com"
        val t = 1759276800000L + r.nextLong(86400000L * 30)
        val skus = scala.collection.mutable.LinkedHashSet[String]()
        val lineRoll = r.nextInt(100)
        val want = if (lineRoll < 90) 1 else if (lineRoll < 99) 2 else 3
        while (skus.size < want) skus += f"SKU-${r.nextInt(2000)}%05d"
        val rows = skus.toSeq.zipWithIndex.map { case (sku, i) =>
          OrderRow(po, sku, i + 1, 1 + r.nextInt(5),
            BigDecimal(r.nextInt(20000) + 100, 2), lineStatuses(0), t, email)
        }
        sent += rows
        out += OrderMessage((po % partitions).toInt,
          orderJson(rows, single = want == 1 && r.nextInt(4) == 0), rows)
      }
    }
    out.result()
  }

  /** The Walmart order document (FIXTURES.md §1) for one order version;
    * `single` sends its one line as a struct rather than an array. */
  def orderJson(rows: Seq[OrderRow], single: Boolean = false): String = {
    require(!single || rows.size == 1, "only a one-line order has the single-struct form")
    val h = rows.head
    val lines = rows.map { l =>
      val tracking =
        if (l.status == "Acknowledged" || l.status == "Cancelled") "null"
        else s"""{"shipDateTime": ${l.statusDate}, "carrierName": {"carrier": "UPS", "otherCarrier": null}, "methodCode": "Standard", "carrierMethodCode": "S01", "trackingNumber": "1Z${l.purchaseOrderId}", "trackingURL": "https://t.example/1Z${l.purchaseOrderId}"}"""
      val cancel = if (l.status == "Cancelled") "\"CUSTOMER_REQUEST\"" else "null"
      s"""{"lineNumber": "${l.lineNumber}", "item": {"productName": "Item ${l.sku}", "sku": "${l.sku}", "condition": "New"}, "charges": {"charge": [{"chargeType": "PRODUCT", "chargeName": "ItemPrice", "chargeAmount": {"currency": "USD", "amount": ${l.chargeAmount}}, "tax": {"taxName": "Tax1", "taxAmount": {"currency": "USD", "amount": 0.50}}}]}, "orderLineQuantity": {"unitOfMeasurement": "EACH", "amount": "${l.quantity}"}, "statusDate": ${l.statusDate}, "orderLineStatuses": {"orderLineStatus": [{"status": "${l.status}", "statusQuantity": {"unitOfMeasurement": "EACH", "amount": "${l.quantity}"}, "cancellationReason": $cancel, "trackingInfo": $tracking}]}, "fulfillment": {"fulfillmentOption": "S2H", "shipMethod": "VALUE", "storeId": null, "pickUpDateTime": ${l.statusDate}, "pickUpBy": null, "shippingProgramType": null}}"""
    }
    s"""{"purchaseOrderId": "${h.purchaseOrderId}", "customerOrderId": "9${h.purchaseOrderId}", "customerEmailId": "${h.email}", "orderDate": ${rows.map(_.statusDate).min}, "request_time": "2025-10-01 05:00:00", "shippingInfo": {"phone": "5551234567", "estimatedDeliveryDate": 1759800000000, "estimatedShipDate": 1759400000000, "methodCode": "Value", "carrierMethodName": null, "postalAddress": {"name": "Jane Doe", "address1": "1 Main St", "address2": null, "city": "Springfield", "state": "CA", "postalCode": "90001", "country": "USA", "addressType": "RESIDENTIAL"}}, "orderLines": {"orderLine": ${if (single) lines.head else lines.mkString("[", ", ", "]")}}, "shipNode": {"type": "SellerFulfilled", "name": "Main", "id": "SN1"}}"""
  }

  /** Last write wins per (purchaseOrderId, sku), in production order. */
  def expectedRows(msgs: Seq[OrderMessage]): Map[(Long, String), OrderRow] =
    msgs.iterator.flatMap(_.rows).map(r => (r.purchaseOrderId, r.sku) -> r).toMap

  // --------------------------------------------------------- admission

  /** One admission document with the verdict it was planted to get. */
  final case class AdmissionDoc(docId: Long, text: String, embedding: Seq[Double],
                                expected: String)

  /** The corpus side the planted classes copy from. */
  final case class CorpusDoc(docId: Long, text: String, embedding: Seq[Double])

  /** Batch `b` of `size` documents in the four classes of the composed
    * admission soak (`graft.tools.AdmissionPipelineSoak`), in equal
    * quarters: a lexical twin (corpus text verbatim, a fresh embedding),
    * a span copy (the first `spanTokens` tokens of a corpus document
    * followed by `spanFiller` fresh tokens, a fresh embedding), a
    * semantic twin (50 fresh tokens, a corpus embedding verbatim) and a
    * novel document (50 fresh tokens, a fresh embedding). Fresh tokens
    * are unique to (seed, batch, document), so no planted document can
    * match one absorbed earlier. */
  def admissionBatch(seed: Long, b: Int, size: Int, corpus: IndexedSeq[CorpusDoc],
                     spanTokens: Int, spanFiller: Int): Vector[AdmissionDoc] = {
    val r = rng(seed, s"admission-$b")
    val long = corpus.filter(_.text.split(" ").length >= spanTokens)
    val dim = corpus.head.embedding.size
    (0 until size).map { i =>
      val id = 1000000000L * (b + 1) + i
      def fresh(k: Int) = (1 to k).map(j => s"f${seed}b${b}d${i}t$j").mkString(" ")
      i % 4 match {
        case 0 =>
          val c = corpus(r.nextInt(corpus.size))
          AdmissionDoc(id, c.text, unitVector(r, dim).toSeq, "dup_lexical")
        case 1 =>
          val c = long(r.nextInt(long.size))
          AdmissionDoc(id, c.text.split(" ").take(spanTokens).mkString(" ") + " " + fresh(spanFiller),
            unitVector(r, dim).toSeq, "dup_span")
        case 2 =>
          val c = corpus(r.nextInt(corpus.size))
          AdmissionDoc(id, fresh(50), c.embedding, "dup_semantic")
        case _ =>
          AdmissionDoc(id, fresh(50), unitVector(r, dim).toSeq, "admit")
      }
    }.toVector
  }
}
