package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Guard rails for the LSH band self-joins — the minhash candidates
  * (`DedupOps.lshCandidatesFrom`: q21/q22/q43/q44 and the staged
  * `cand_h*` tables), the simhash pairs (`DedupOps.simhashPairsOf`,
  * q24) and the embedding near-dup pairs (`EmbeddingOps.nearDupPairsOf`,
  * q28). All three take both stages from [[SkewGuard.guardedBands]].
  *
  * A band self-join is never O(n²) *across* buckets, but a single
  * degenerate bucket — thousands of identical or near-identical docs
  * sharing a band key, exactly what boilerplate-heavy crawl data
  * produces — re-introduces O(n²) *within* that bucket. AQE skew-join
  * splits the shuffle partitions but cannot cap the pair explosion
  * itself, so the guard acts on the data:
  *
  *   1. `maxGroupAllPairs` — exact-duplicate collapse before banding:
  *      docs with an identical signature form a group; groups larger
  *      than this emit a linear star (representative, member) pair list
  *      instead of the quadratic all-pairs set, and only the
  *      representative enters the band join. Small groups are left
  *      untouched (bit-identical output to the unguarded operator).
  *   2. `maxBucket` — per-bucket membership cap after banding: buckets
  *      keep their `maxBucket` lowest-id members; the rest are dropped
  *      from that bucket ([[SkewGuard.overflowStats]] reports them).
  *      A capped doc usually still pairs through its other b−1 bands,
  *      so recall degrades gracefully instead of the job dying.
  *
  * With the defaults, any corpus whose groups and buckets stay under
  * the thresholds produces byte-identical results to the unguarded
  * operators — the CORRECTNESS oracle runs with the guard ON.
  */
final case class BandGuard(
    maxBucket: Int = 256,
    maxGroupAllPairs: Int = 64) {
  require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
  require(maxGroupAllPairs >= 1, s"maxGroupAllPairs must be >= 1, got $maxGroupAllPairs")
}

object BandGuard {
  val default: BandGuard = BandGuard()
  /** No guarding — the pre-round-3 behavior (benchmark/control only). */
  val off: BandGuard = BandGuard(Int.MaxValue, Int.MaxValue)
}

/** The one implementation of the [[BandGuard]] contract, shared by the
  * three band self-joins named there. */
object SkewGuard {
  /** Both guard stages for one banded self-join over `rows` (one row
    * per `idCol`, `sigCol` the signature whose equality means "exact
    * duplicate"). Returns `(bands, star)`:
    *   - `bands`: `(idCol, carry…, bk)`, one row per element of the
    *     `bandKeys` array of every row left after the collapse, capped
    *     at `g.maxBucket` members per `bk`;
    *   - `star`: `(rep, member)` for every collapsed group member.
    *
    * The collapse runs in two passes (PERF §32). Pass 1 censuses group
    * sizes on the 8-byte `xxhash64(sigCol)` fingerprint alone, so the
    * full signature never rides through the census exchange; only the
    * members of fingerprint groups larger than `g.maxGroupAllPairs`
    * are suspects. Pass 2 compares each suspect's signature to its
    * fingerprint group's representative (the lowest id): exact for any
    * signature type, since a fingerprint collision only sends extra
    * rows into pass 2, where the compare clears them. The caller adds
    * its own pair score, threshold and star literal, and decides
    * whether the returned band frame is worth a persist. */
  def guardedBands(rows: DataFrame, idCol: String, sigCol: String, bandKeys: Column,
                   carry: Seq[String], g: BandGuard): (DataFrame, DataFrame) = {
    val (banded, star) =
      if (g.maxGroupAllPairs == Int.MaxValue)
        (rows, rows.limit(0).select(col(idCol).as("rep"), col(idCol).as("member")))
      else collapse(rows, idCol, sigCol, g.maxGroupAllPairs)
    val bands = banded.select((col(idCol) +: carry.map(col)) :+ explode(bandKeys).as("bk"): _*)
    (capBuckets(bands, "bk", idCol, g.maxBucket), star)
  }

  private def collapse(rows: DataFrame, idCol: String, sigCol: String,
                       maxGroup: Int): (DataFrame, DataFrame) = {
    val wfp = Window.partitionBy("__fp")
    val census = rows
      .select(col(idCol), xxhash64(col(sigCol)).as("__fp"))
      .withColumn("__fsz", count(lit(1)).over(wfp))
      .where(col("__fsz") > maxGroup)
      .select(idCol, "__fp")
    // Referenced by the anti-join, the suspect join and the star, and
    // stage reuse does not fire across those references: without
    // materialization the corpus-wide census runs once PER reference.
    // The output is tiny (only members of oversized groups, usually
    // none), so this is safe inside a staging window where a full
    // band-stream persist is not (PERF §35). persist, not
    // localCheckpoint: keep the census lineage on block loss. Inside a
    // staged write the census is filled eagerly — the write is about
    // to materialize everything anyway — and dies with the write; a
    // stageAll chain and a cold read-through build take that one plan.
    // Everywhere else (q24 and q28 at query time, the `*Of` library
    // entries) it stays lazy, dying with the first query that consumes
    // the returned plan. The fill registers after its count, and the
    // registry's exact stale-event guard keeps that count from
    // releasing the census.
    val suspectIds =
      if (Staging.inStagedWrite) CacheRegistry.filled(census)._1
      else CacheRegistry.scoped(census)
    // The suspect id list is joined hint-free: AQE broadcasts it while
    // small; an all-duplicates corpus degrades to a shuffle join and
    // never loses exactness.
    val sig = col(sigCol)
    val suspects = rows.join(suspectIds, idCol)
      .withColumn("__gmin", min(col(idCol)).over(wfp))
      .withColumn("__repv", min_by(sig, col(idCol)).over(wfp))
      .withColumn("__gsz", sum(when(sig === col("__repv"), 1L).otherwise(0L)).over(wfp))
      .withColumn("__dup", sig === col("__repv") && col("__gsz") > maxGroup)
    (rows.join(suspectIds.select(idCol), Seq(idCol), "left_anti")
       .unionByName(suspects
         .where(!col("__dup") || col(idCol) === col("__gmin"))
         .select(rows.columns.map(col).toSeq: _*)),
     suspects
       .where(col("__dup") && col(idCol) =!= col("__gmin"))
       .select(col("__gmin").as("rep"), col(idCol).as("member")))
  }

  /** Keep at most `cap` members per bucket, lowest `idCol` first. The
    * row_number window shuffles on the bucket key — the same key the
    * following self-join shuffles on, so the exchange is reused. */
  def capBuckets(bands: DataFrame, bucketCol: String, idCol: String, cap: Int): DataFrame =
    if (cap == Int.MaxValue) bands
    else {
      val w = Window.partitionBy(bucketCol).orderBy(idCol)
      bands.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= cap)
        .drop("__rn")
    }

  /** Buckets over the cap: (bucket, size, dropped). Diagnostic —
    * callers inspect this to tune `maxBucket`/band width. */
  def overflowStats(bands: DataFrame, bucketCol: String, cap: Int): DataFrame =
    bands.groupBy(bucketCol).agg(count(lit(1)).as("size"))
      .where(col("size") > cap)
      .withColumn("dropped", col("size") - cap)
}
