package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types._

import graft.model.{OrderParser, WalmartOrderSchema}

/** Fixtures derived from FIXTURES.md §1 edge cases (shapes observed
  * in the reference's daily dumps; data synthesized here). */
object OrderFixtures {

  def line(num: Int, sku: String, status: String = "Shipped",
           withTracking: Boolean = true, otherCarrier: Boolean = false): String = {
    val tracking =
      if (!withTracking) "null"
      else {
        val carrier =
          if (otherCarrier) """{"otherCarrier": "SomeLocalCarrier"}"""
          else """{"carrier": "UPS", "otherCarrier": null}"""
        s"""{"shipDateTime": 1759300000000, "carrierName": $carrier,
            "methodCode": "Standard", "carrierMethodCode": "S01",
            "trackingNumber": "1Z999", "trackingURL": "https://t.example/1Z999"}"""
      }
    s"""{
      "lineNumber": "$num",
      "item": {"productName": "Café Münster 咖啡", "sku": "$sku", "condition": "New"},
      "charges": {"charge": [{
        "chargeType": "PRODUCT", "chargeName": "ItemPrice",
        "chargeAmount": {"currency": "USD", "amount": 19.99},
        "tax": {"taxName": "Tax1", "taxAmount": {"currency": "USD", "amount": 1.60}}}]},
      "orderLineQuantity": {"unitOfMeasurement": "EACH", "amount": "2"},
      "statusDate": 1759300000000,
      "orderLineStatuses": {"orderLineStatus": [{
        "status": "$status",
        "statusQuantity": {"unitOfMeasurement": "EACH", "amount": "2"},
        "cancellationReason": null,
        "trackingInfo": $tracking}]},
      "fulfillment": {"fulfillmentOption": "S2H", "shipMethod": "VALUE",
        "storeId": null, "pickUpDateTime": 1759300000000,
        "pickUpBy": null, "shippingProgramType": null}
    }"""
  }

  def order(poId: String, lines: String, email: String = "a@b.com"): String =
    s"""{
      "purchaseOrderId": "$poId",
      "customerOrderId": "9$poId",
      "customerEmailId": "$email",
      "orderDate": 1759276800000,
      "request_time": "2025-10-01 05:00:00",
      "shippingInfo": {
        "phone": "5551234567",
        "estimatedDeliveryDate": 1759800000000,
        "estimatedShipDate": 1759400000000,
        "methodCode": "Value",
        "carrierMethodName": null,
        "postalAddress": {
          "name": "Jane Doe", "address1": "1 Main St", "address2": null,
          "city": "Springfield", "state": "CA", "postalCode": "90001",
          "country": "USA", "addressType": "RESIDENTIAL"}},
      "orderLines": {"orderLine": $lines},
      "shipNode": {"type": "SellerFulfilled", "name": "Main", "id": "SN1"}
    }"""

  /** order with orderLine as ARRAY of 2 lines */
  val twoLineOrder: String = order("1001", s"[${line(1, "SKU-A")}, ${line(2, "SKU-B", "Delivered")}]")
  /** orderLine as SINGLE DICT (flink5_parse_walmart_order.py:292-294) */
  val dictLineOrder: String = order("1002", line(1, "SKU-C"))
  /** list-of-orders message */
  val listMessage: String = s"[${order("1003", s"[${line(1, "SKU-D")}]")}, ${order("1004", s"[${line(1, "SKU-E", withTracking = false)}]")}]"
  /** missing orderLines → skipped (:283-290) */
  val noLinesOrder: String = """{"purchaseOrderId": "1005", "orderDate": 1759276800000}"""
  /** otherCarrier coalesce (:353) */
  val otherCarrierOrder: String = order("1006", s"[${line(1, "SKU-F", otherCarrier = true)}]")
  /** empty charges + statuses arrays → null [0] extraction */
  val emptyChargesOrder: String = {
    val l = """{
      "lineNumber": "1",
      "item": {"productName": "P", "sku": "SKU-G", "condition": "New"},
      "charges": {"charge": []},
      "orderLineQuantity": {"unitOfMeasurement": "EACH", "amount": "1"},
      "statusDate": 1759300000000,
      "orderLineStatuses": {"orderLineStatus": []},
      "fulfillment": {"fulfillmentOption": "S2H", "shipMethod": "VALUE",
        "storeId": null, "pickUpDateTime": null, "pickUpBy": null,
        "shippingProgramType": null}
    }"""
    order("1007", s"[$l]")
  }
  val malformed: String = """{"purchaseOrderId": INVALID!!!"""
  /** >VARCHAR truncation: 250-char address1 (limit 200) */
  val longAddressOrder: String =
    order("1008", s"[${line(1, "SKU-H")}]").replace("1 Main St", "X" * 250)
}

class OrderParserSpec extends SparkSpec {
  import spark.implicits._
  import OrderFixtures._

  private def parse(jsons: String*): DataFrame =
    OrderParser.parse(jsons.toDF("value"))

  test("flattens orders to 52 columns in fixed order") {
    val df = parse(twoLineOrder)
    assert(df.columns.toSeq == WalmartOrderSchema.outputColumns)
    assert(df.count() == 2)
    val rows = df.orderBy("lineNumber").collect()
    assert(rows(0).getAs[Long]("purchaseOrderId") == 1001L)
    assert(rows(0).getAs[String]("sku") == "SKU-A")
    assert(rows(1).getAs[String]("orderLineStatus") == "Delivered")
    assert(rows(0).getAs[java.math.BigDecimal]("chargeAmount").doubleValue() == 19.99)
    assert(rows(0).getAs[Int]("quantity") == 2)
    // UTF-8 preserved (test-spec property: UTF-8 preservation)
    assert(rows(0).getAs[String]("productName").contains("咖啡"))
  }

  test("accepts orderLine as a single dict") {
    val df = parse(dictLineOrder)
    assert(df.count() == 1)
    assert(df.collect()(0).getAs[String]("sku") == "SKU-C")
  }

  test("accepts a list of orders in one message") {
    val df = parse(listMessage)
    assert(df.count() == 2)
    assert(df.select("purchaseOrderId").collect().map(_.getLong(0)).toSet == Set(1003L, 1004L))
  }

  test("skips orders with missing orderLines") {
    assert(parse(noLinesOrder).count() == 0)
  }

  test("malformed JSON yields no rows, does not fail") {
    assert(parse(malformed).count() == 0)
  }

  test("coalesces carrier and otherCarrier") {
    val r = parse(otherCarrierOrder).collect()(0)
    assert(r.getAs[String]("carrierName") == "SomeLocalCarrier")
    val r2 = parse(twoLineOrder).collect()(0)
    assert(r2.getAs[String]("carrierName") == "UPS")
  }

  test("null tracking and empty charge arrays produce null columns") {
    val r = parse(emptyChargesOrder).collect()(0)
    assert(r.getAs[String]("chargeType") == null)
    assert(r.getAs[String]("orderLineStatus") == null)
    assert(r.getAs[String]("trackingNumber") == null)
    // but the line itself survives
    assert(r.getAs[String]("sku") == "SKU-G")
  }

  test("varchar truncation applies MySQL column limits") {
    val r = parse(longAddressOrder).collect()(0)
    assert(r.getAs[String]("address1").length == 200)
  }

  test("timestamps convert from epoch millis (UTC)") {
    val r = parse(twoLineOrder).collect()(0)
    assert(r.getAs[java.sql.Timestamp]("orderDate_formatted").toInstant ==
      java.time.Instant.ofEpochMilli(1759276800000L))
    assert(r.getAs[Long]("orderDate") == 1759276800000L)
  }

  private def ts(epochMs: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(epochMs))

  /** The 51 columns before load_time that `order(po, ...)` with
    * `line(num, sku, status)` flattens to. */
  private def expectedRow(po: Long, num: Int, sku: String, status: String = "Shipped"): Seq[Any] =
    Seq(po, ("9" + po).toLong, "a@b.com", 1759276800000L, ts(1759276800000L),
      "SellerFulfilled", "Main", "SN1", "kafka_stream", "5551234567",
      1759800000000L, ts(1759800000000L), 1759400000000L, ts(1759400000000L), "Value",
      "Jane Doe", "1 Main St", null, "Springfield", "CA", "90001", "USA", "RESIDENTIAL",
      num, sku, "Café Münster 咖啡", "New", 2, "EACH", 1759300000000L, ts(1759300000000L),
      "S2H", "VALUE", null, null,
      "PRODUCT", "ItemPrice", new java.math.BigDecimal("19.99"), "USD",
      new java.math.BigDecimal("1.60"), "Tax1",
      status, 2, null, 1759300000000L, ts(1759300000000L), "UPS", "S01", "1Z999",
      "https://t.example/1Z999",
      // request_time "2025-10-01 05:00:00" in the session's UTC
      ts(java.time.Instant.parse("2025-10-01T05:00:00Z").toEpochMilli))

  /** Rows as 51 exact values, load_time checked to be this run's. */
  private def exactRows(df: DataFrame): Seq[Seq[Any]] = {
    assert(df.columns.toSeq == WalmartOrderSchema.outputColumns)
    val before = System.currentTimeMillis()
    val rows = df.collect().toSeq
    rows.foreach { r =>
      val load = r.getAs[java.sql.Timestamp]("load_time").getTime
      assert(load >= before - 60000L && load <= System.currentTimeMillis())
    }
    val line = WalmartOrderSchema.outputColumns.indexOf("lineNumber")
    rows.map(_.toSeq.dropRight(1)).sortBy(r => (r.head.asInstanceOf[Long], r(line).asInstanceOf[Int]))
  }

  test("one parse: a list of orders mixing array and single-struct orderLine") {
    val msg = s"[${order("1101", s"[${line(1, "SKU-A")}, ${line(2, "SKU-B", "Delivered")}]")}," +
      s" ${order("1102", line(1, "SKU-C"))}]"
    assert(exactRows(parse(msg)) == Seq(
      expectedRow(1101L, 1, "SKU-A"), expectedRow(1101L, 2, "SKU-B", "Delivered"),
      expectedRow(1102L, 1, "SKU-C")))
  }

  test("one parse: orderLine [] and null yield no rows, next to an order that has lines") {
    val empty = order("1201", "[]")
    val nul = order("1202", "null")
    assert(exactRows(parse(empty, nul)).isEmpty)
    assert(exactRows(parse(s"[$empty, $nul, ${order("1203", s"[${line(1, "SKU-D")}]")}]")) ==
      Seq(expectedRow(1203L, 1, "SKU-D")))
  }

  test("pin: a root object parses as a one-element array; a string field keeps raw JSON") {
    // the single parse relies on both Spark JSON-reader behaviours
    val schema = ArrayType(StructType(Seq(
      StructField("i", IntegerType), StructField("raw", StringType))))
    val got = Seq("""{"i": 4, "raw": {"a": [1, 2]}}""", """[{"i": 1, "raw": [{"b": 2}]}]""")
      .toDF("value").select(from_json(col("value"), schema).as("a")).collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getInt(0), r.getString(1))))
    assert(got.toSeq == Seq(Seq((4, """{"a":[1,2]}""")), Seq((1, """[{"b":2}]"""))))
  }

  test("mixed batch: all variants together") {
    val df = parse(twoLineOrder, dictLineOrder, listMessage, noLinesOrder,
      malformed, emptyChargesOrder)
    // 2 + 1 + 2 + 0 + 0 + 1
    assert(df.count() == 6)
  }
}
