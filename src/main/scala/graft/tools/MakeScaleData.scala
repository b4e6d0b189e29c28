package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Deterministic scale-up generator for scaling experiments: replicates
  * the `documents` and `embeddings` tables of a source sf dir K times
  * with content decorrelated per replica, so pair densities stay
  * realistic instead of every row gaining K-1 near-duplicates.
  *
  *   - documents: replica r > 0 remaps the vocabulary by suffixing every
  *     token with the replica id. Bigram shingle sets across replicas are
  *     exactly disjoint, while within a replica the shingle structure is
  *     isomorphic to the source — so total near-dup pairs scale exactly
  *     linearly in K. (An earlier variant permuted token ORDER by a
  *     per-replica hash of the token value; with the corpus's ~30-word
  *     vocabulary that sorted every doc into the same global word order
  *     and manufactured a 289x pair explosion. Useful as an adversarial
  *     corpus, wrong as a scaling one.)
  *   - embeddings: replica r > 0 flips component signs by
  *     `xxhash64(i, r) % 2`, which preserves norms exactly while making
  *     cross-replica cosines ~0.
  *
  * No randomness: same (src, k) always produces byte-identical output.
  * Usage: runMain graft.tools.MakeScaleData <srcSfDir> <dstDir> <k>
  */
object MakeScaleData {

  def scaledDocuments(spark: SparkSession, src: String, k: Int): DataFrame = {
    val docs = Tables.documents(spark, src)
    (0 until k).map { r =>
      if (r == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(r * 10000000L))
        .withColumn("text", concat_ws(" ",
          expr(s"transform(split(text, ' '), t -> concat(t, '~$r'))")))
        .withColumn("n_chars", length(col("text")))
    }.reduce(_ unionByName _)
  }

  def scaledEmbeddings(spark: SparkSession, src: String, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, src)
    (0 until k).map { r =>
      if (r == 0) emb
      else emb
        .withColumn("vec_id", col("vec_id") + lit(r * 10000000L))
        .withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> " +
            s"case when pmod(xxhash64(i, $r), 2) = 0 then x else -x end)"))
    }.reduce(_ unionByName _)
  }

  /** K-fold replication of the TPC-H FACT tables for relational scale
    * points: lineitem/orders replicate with the order key remapped per
    * replica (so the two stay join-consistent and order-grain queries
    * scale linearly), while part/supplier keys are left alone — the
    * fact grows, the dimensions stay fixed, which is how a warehouse
    * actually scales (more transactions against the same catalog). */
  private def replicated(df: DataFrame, keyCol: String, k: Int): DataFrame =
    (0 until k).map { r =>
      if (r == 0) df
      else df.withColumn(keyCol, col(keyCol) + lit(r * 1000000000L))
    }.reduce(_ unionByName _)

  def scaledLineitem(spark: SparkSession, src: String, k: Int): DataFrame =
    replicated(Tables.lineitem(spark, src), "l_orderkey", k)

  /** ADVERSARIALLY SKEWED lineitem (VERDICT r14 #6): the same K-fold
    * fact replication, then two deterministic Zipf distortions that
    * model a "mega supplier / mega order" warehouse:
    *
    *   - `l_suppkey` is REDRAWN from a mega-supplier mixture: a
    *     `megaFrac` slice of rows (default 25%, hash-selected) lands
    *     on the single smallest supplier key outright, the rest on a
    *     Zipf(1) over the existing key range (u = hash-uniform in
    *     (0,1), key = minSupp + floor(range^u) - 1, P(key ≤ x) ∝
    *     ln x). Zipf(1) alone tops out near 10% single-key mass
    *     (~1/ln N), which at 32 shuffle partitions is only ~2–4× the
    *     median partition — UNDER AQE's default 5× skew factor (the
    *     first probe run proved it, PERF §40); the mixture pushes the
    *     hot key to ~32% of the fact table, ~9× the median partition,
    *     which is what "one mega supplier" actually does to a
    *     warehouse shuffle.
    *   - a `hotFrac` slice of rows (default 10%, hash-selected) has
    *     `l_orderkey` REDIRECTED to one of the three smallest source
    *     order keys — three orders own 10% of the fact table, so the
    *     orders⋈lineitem shuffle carries three pathological keys.
    *
    * Both rewrites keep referential integrity (every emitted key
    * exists in supplier/orders), are pure column expressions (no
    * action except the 3-row hot-key probe), and are deterministic in
    * (src, k). Queries over the skewed dir return DIFFERENT (still
    * well-defined) results than the uniform dir — this is a
    * task-distribution stressor, not an oracle corpus. */
  def scaledLineitemZipf(spark: SparkSession, src: String, k: Int,
                         hotFrac: Double = 0.10,
                         megaFrac: Double = 0.25): DataFrame = {
    val supStats = Tables.supplier(spark, src)
      .agg(min("s_suppkey").cast("long"), max("s_suppkey").cast("long"))
      .collect()(0)
    val (sMin, sMax) = (supStats.getLong(0), supStats.getLong(1))
    val range = math.max(sMax - sMin + 1, 1L)
    val hotKeys = Tables.orders(spark, src)
      .select(col("o_orderkey").cast("long"))
      .orderBy("o_orderkey").limit(3).collect().map(_.getLong(0))
    val hotPct = math.round(hotFrac * 100)
    val li = replicated(Tables.lineitem(spark, src), "l_orderkey", k)
    val suppType = li.schema("l_suppkey").dataType.sql
    val ordType = li.schema("l_orderkey").dataType.sql
    li
      // u in (0,1): 20-bit hash slice, offset half a ulp to avoid 0
      .withColumn("__u",
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(1)),
          lit(1048576L)) + lit(0.5)) / lit(1048576.0))
      .withColumn("l_suppkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(4)),
               lit(100L)) < lit(math.round(megaFrac * 100)),
          lit(sMin).cast(suppType))
          .otherwise((lit(sMin) +
            floor(pow(lit(range.toDouble), col("__u"))) - lit(1))
            .cast(suppType)))
      .withColumn("l_orderkey",
        when(pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(2)),
               lit(100L)) < lit(hotPct),
          element_at(
            array(hotKeys.map(lit(_)): _*),
            (pmod(xxhash64(col("l_linenumber"), lit(3)), lit(3L)) + 1)
              .cast("int"))
            .cast(ordType))
          .otherwise(col("l_orderkey")))
      .drop("__u")
  }

  def scaledOrders(spark: SparkSession, src: String, k: Int): DataFrame =
    replicated(Tables.orders(spark, src), "o_orderkey", k)

  /** Events replicate with DISJOINT user populations per replica
    * (event_id and user_id remapped, timestamps untouched): sessions,
    * windows, and per-user state machines keep their per-user density
    * while total volume scales linearly — the same day, K× the
    * traffic. The raw read passes `ts` through in whatever unit the
    * source carries (int64 nanos or timestamp micros); the loader
    * normalizes either representation identically). */
  def scaledEvents(spark: SparkSession, src: String, k: Int): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.parquet(spark, s"$src/events.parquet")
    (0 until k).map { r =>
      if (r == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(r * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(r * 10000000L))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: MakeScaleData <srcSfDir> <dstDir> <k> [tpch] [zipf] [docsonly]")
    val src = args(0); val dst = args(1); val k = args(2).toInt
    val zipf = args.contains("zipf")
    // docsonly: corpus-scale experiments (the q79 past-ceiling run
    // needs >2M docs = ~150x documents, where 150x embeddings would
    // only burn disk and generation time)
    val docsOnly = args.contains("docsonly")
    val spark = GraftSession.local("graft-make-scale-data")
    scaledDocuments(spark, src, k)
      .repartition(GraftSession.cpus.toInt)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    if (!docsOnly)
      scaledEmbeddings(spark, src, k)
        .repartition(GraftSession.cpus.toInt)
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    if (args.contains("tpch")) {
      (if (zipf) scaledLineitemZipf(spark, src, k)
       else scaledLineitem(spark, src, k))
        .repartition(GraftSession.cpus.toInt)
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
      scaledOrders(spark, src, k)
        .repartition(GraftSession.cpus.toInt)
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      scaledEvents(spark, src, k)
        .repartition(GraftSession.cpus.toInt)
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
      // dimensions copy through unchanged
      Seq("part", "supplier", "customer", "nation", "region").foreach { t =>
        Tables.parquet(spark, s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    }
    println(s"[make-scale-data] wrote ${k}x ${src} -> $dst")
    spark.stop()
  }
}
