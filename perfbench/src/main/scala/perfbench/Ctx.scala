package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one round of a workload measured: the wall time of its pipeline
  * phase and of its mixed phase, where it has them, and the latencies of
  * the mixed phase's operations. `counts` are row counts the checks saw,
  * reported as per-layer figures of the traced run. */
final case class Round(pipelineS: Option[Double], mixS: Option[Double], opsMs: Seq[Double],
    attempted: Long, failed: Long, counts: Map[String, Double] = Map.empty)

/** Everything a workload needs: the session, the tracer, the run's scratch
  * directory and the check log. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val tmp: String,
    val seed: Long, val smoke: Boolean, val cores: Int) {
  val failures = ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failures += what
    System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  def path(name: String): String = s"$tmp/$name"

  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  private val held = ArrayBuffer.empty[DataFrame]
  def mat(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    held += p
    p
  }
  def release(): Unit = { held.foreach(_.unpersist(true)); held.clear() }

  /** One call into a layer. Untraced it is just the call. Traced, the
    * input is materialized before the span opens, and the span covers the
    * call (`.call`) and the materialization of its output (`.action`). */
  def layer(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame =
    if (!tr.on) f(in)
    else {
      val inM = if (held.exists(_ eq in)) in else mat(in)
      tr.span(name) {
        val out = tr.span(s"$name.call")(f(inM))
        tr.span(s"$name.action")(mat(out))
      }
    }

  def write(df: DataFrame, name: String): String = {
    tr.span("output.write")(df.write.mode("overwrite").parquet(path(name)))
    path(name)
  }

  /** Per doc_id, the output's span sequence must hash like the input's. */
  def spansIntact(out: DataFrame, input: DataFrame, what: String): Unit = {
    val i = input.select(col("doc_id"), xxhash64(col("spans")).as("h_in"))
    val o = out.select(col("doc_id"), xxhash64(col("spans")).as("h_out"))
    val bad = o.join(i, Seq("doc_id"), "left")
      .filter(col("h_in").isNull || col("h_in") =!= col("h_out")).count()
    check(bad == 0, s"$what: $bad rows whose span sequence differs from the input")
  }

  /** Order-free fingerprint of a frame: row count and xor of row hashes. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** `k` distinct indices below `n`, drawn from the seed. */
  def sample(n: Int, k: Int, salt: Long): Array[Int] = {
    val r = new java.util.SplittableRandom(Gen.mix(seed * 1000003L + salt))
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < math.min(k, n)) out += r.nextInt(n)
    out.toArray
  }

  def rm(p: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
}
