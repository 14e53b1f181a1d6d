package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** One catalogue query with its pinned output: row count and the
  * order-independent hash [[Catalogue.observed]] computes.
  */
final case class Pinned(name: String, tables: Seq[String], rows: Long, hash: Long)

/** Staged-fixpoint queries from `SparkEntry.queries`, each forced through
  * a noop write. One op is one pass over every query, so each query's
  * time moves the op time; a query runs from the builder call (which runs
  * the eager staging jobs) until its noop write returns.
  *
  * The seed fixes the row order of every input table and the query order
  * of each pass; query results do not depend on either.
  */
final class Catalogue(
    spark: SparkSession,
    work: Path,
    dataDir: Path,
    queries: Seq[Pinned],
    seed: Long,
    passes: Int) extends Workload {

  private val rng = new scala.util.Random(seed)
  private val tableDir = work.resolve("tables")
  private val order: Vector[Vector[Pinned]] =
    Vector.fill(passes)(rng.shuffle(queries.toVector))
  private var tableRows = Map.empty[String, Long]

  def params: Map[String, Any] = Map(
    "queries" -> queries.map(_.name), "warmup_passes" -> Catalogue.WarmupPasses, "timed_passes" -> passes)

  /** Writes each input table in a seed-determined row order. */
  def generate(): Unit = {
    val tables = queries.flatMap(_.tables).distinct
    tableRows = tables.map { t =>
      val src = spark.read.parquet(dataDir.resolve(s"$t.parquet").toString)
      src.orderBy(xxhash64((lit(seed) +: src.columns.toSeq.map(col)): _*))
        .coalesce(1).write.mode("overwrite").parquet(tableDir.resolve(s"$t.parquet").toString)
      t -> src.count()
    }.toMap
  }

  def warm(): Unit =
    (0 until Catalogue.WarmupPasses).foreach(_ => queries.foreach(q => runQuery(q, None)))

  def opNames: Seq[String] = order.indices.map(i => s"pass$i")

  def runOp(i: Int, tracer: Option[Tracer]): Outcome = {
    val pass = order(i)
    val records = pass.flatMap(_.tables).map(tableRows).sum
    tracer match {
      case None =>
        val t0 = System.nanoTime()
        val got = pass.map(q => q -> runQuery(q, None))
        Outcome(i, opNames(i), (System.nanoTime() - t0) / 1e9, records, mismatch(got), Map.empty)
      case Some(tr) =>
        var got = Vector.empty[(Pinned, (Long, Long))]
        val stepMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        val rounds = mutable.Map.empty[String, Double]
        val op = tr.op(i, "op.pass") { root =>
          got = pass.map { q =>
            val staged0 = graft.ops.Staging.stageCalls.get()
            val r = tr.spans.span(s"query.${q.name}", i, root)(qs => runQuery(q, Some((tr, i, qs, stepMs))))
            rounds(s"ops.staged_rounds.${q.name}") = (graft.ops.Staging.stageCalls.get() - staged0).toDouble
            q -> r
          }
        }
        val layers = op.layers ++ rounds ++ stepMs.map { case (k, v) => s"${k}_ms" -> v }
        Outcome(i, opNames(i), op.root.ms / 1e3, records, mismatch(got), layers)
    }
  }

  private def mismatch(got: Seq[(Pinned, (Long, Long))]): Option[String] = {
    val wrong = got.collect { case (q, (rows, hash)) if (rows, hash) != ((q.rows, q.hash)) =>
      s"${q.name}: rows/hash $rows/$hash, pinned ${q.rows}/${q.hash}"
    }
    if (wrong.isEmpty) None else Some(wrong.mkString("; "))
  }

  /** Builds and executes one query; returns its (rows, hash). Traced, the
    * build and execute times of the op's queries add up in `stepMs`.
    */
  private def runQuery(
      q: Pinned, trace: Option[(Tracer, Int, Int, mutable.Map[String, Double])]): (Long, Long) = {
    def step[T](name: String)(body: => T): T = trace match {
      case None => body
      case Some((tr, op, parent, stepMs)) =>
        LayerListener.setPhase(spark.sparkContext, name)
        val out = tr.spans.span(name, op, parent)(_ => body)
        stepMs(name) += tr.spans.last.ms
        out
    }
    val built = step("ops.build")(SparkEntry.queries(q.name)(spark, tableDir.toString))
    val obs = Observation()
    step("ops.execute")(Catalogue.observed(built, obs).write.format("noop").mode("overwrite").save())
    val row = Await.result(obs.future, 60.seconds)
    (row.getLong(0), row.getLong(1))
  }

  def check(outcomes: Seq[Outcome]): Seq[Outcome] = outcomes
}

object Catalogue {
  /** Untimed passes before the timed ones: the first pass of a JVM is
    * about three times slower than the next (class loading, code
    * generation, JIT).
    */
  val WarmupPasses = 1
  /** Warm time of one pass of the three queries on 4 cores. */
  val PassSeconds = 10.0
  /** Fewest timed passes: one pass varies by a tenth or more from the next. */
  val MinPasses = 2
  private val Prime = 1000000007L

  /** `df` with a row count and an order-independent content hash
    * observed on the write itself, so checking costs no extra job.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(Prime))), lit(0L)).as("hash"))
}
