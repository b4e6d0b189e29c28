package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Runs named oracle queries the way a user receives them: build the
  * DataFrame through `SparkEntry.queries`, then collect the whole
  * ordered result. Keeps the first result of each query as the
  * reference every later execution must equal, and hands those
  * references to the DuckDB oracle after the run. */
final class Queries(ctx: Ctx) {
  import Queries.Exec

  private val reference = mutable.Map[String, (StructType, Array[Row], Seq[Any])]()
  private val executions = mutable.Map[String, Int]().withDefaultValue(0)
  private val tablesOf = mutable.Map[String, String]()
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()
  var failed = 0L
  var attempted = 0L

  /** Run `name` over the tables in `dir`. Timing covers only the two
    * calls; the comparison with the reference happens after. */
  def run(name: String, dir: String): Exec = {
    attempted += 1
    val t0 = Clock.nowMs
    var t1 = t0
    val got =
      try {
        val rows = ctx.tracer.span("harness", s"query $name") {
          val df = ctx.tracer.span("sparkentry", s"construct $name")(SparkEntry.queries(name)(ctx.spark, dir))
          t1 = Clock.nowMs
          (df.schema, ctx.tracer.span("exec", s"collect $name")(df.collect()))
        }
        Right(rows)
      } catch { case e: Exception => Left(e) }
    val t2 = Clock.nowMs
    if (t1 == t0) t1 = t2
    val ok = got match {
      case Left(e) =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        false
      case Right((schema, rows)) =>
        val c = rows.toSeq.map(Queries.canon)
        reference.get(name) match {
          case None =>
            reference(name) = (schema, rows, c)
            tablesOf(name) = dir
            true
          case Some((_, _, want)) =>
            val same = want == c
            if (!same) errors += s"$name: result differs from the run's first result"
            same
        }
    }
    if (ok) executions(name) += 1 else failed += 1
    Exec(name, t0, t1, t2, got.map(_._2.length.toLong).getOrElse(0L), ok)
  }

  /** Write each reference result as parquet for the oracle comparison. */
  def oracleChecks(): Seq[OracleCheck] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      reference.toSeq.sortBy(_._1).map { case (name, (schema, rows, _)) =>
        val out = ctx.work.resolve("results").resolve(name).toString
        pool.submit(new java.util.concurrent.Callable[OracleCheck] {
          def call(): OracleCheck = {
            ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
              .coalesce(1).write.mode("overwrite").parquet(out)
            OracleCheck(name, SparkEntry.oracleSql(name), tablesOf(name), out, executions(name))
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
  }
}

object Queries {
  /** One execution: wall of the construction call and of the collect. */
  final case class Exec(name: String, startMs: Double, constructEndMs: Double, endMs: Double,
                        rows: Long, ok: Boolean) {
    def wallMs: Double = endMs - startMs
    def constructMs: Double = constructEndMs - startMs
    def actionMs: Double = endMs - constructEndMs
  }

  /** The 13 queries that read the staged dedup tables (graft.Bench's
    * staged set). */
  val staged: Seq[String] = Seq("q20_minhash_signatures", "q21_lsh_candidates",
    "q22_jaccard_verify", "q23_simhash", "q24_simhash_pairs", "q32_dedup_keep_list",
    "q44_jaccard_scale", "q47_dedup_clusters", "q60_containment", "q62_source_overlap",
    "q63_curation_funnel", "q80_repeated_spans", "q81_dedup_span_ranges")

  /** A value with arrays and rows made comparable by content. */
  def canon(v: Any): Any = v match {
    case r: Row => r.toSeq.map(canon)
    case b: Array[Byte] => b.toSeq
    case a: Array[_] => a.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.toSeq.map(canon)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (canon(k), canon(x)) }.toSet
    case d: java.math.BigDecimal => d.stripTrailingZeros()
    case other => other
  }
}
