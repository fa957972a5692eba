package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. One invocation runs one workload:
  *
  *   perfbench.Main --workload W --data DIR --out DIR --seconds S
  *                  --trace 0|1 --seed N
  *
  * It sets the engine up several times (setup_s is the median), runs
  * every op once to dump its result for the launcher's oracle check,
  * then measures for S seconds. With `--trace 1` it measures three
  * times: untraced, with spans and the Spark listener on, and untraced
  * again, so the tracing overhead is the ratio of the traced phase to
  * its neighbours. Everything it measured goes to OUT/result.json;
  * spans to OUT/spans.jsonl. Every wait of a workload ends by
  * [[Main.Deadline]], so a slow run still writes its result. */
object Main {
  final case class Ctx(spark: SparkSession, data: String, out: Path, seed: Long)

  /** Cores of the local session. */
  val Cpus = 4
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  /** Drain waits and extra passes stop this long after the JVM started:
    * the launcher allows the whole run 170 s before it kills the JVM. */
  val Deadline: Long = System.nanoTime() + 140L * 1000000000L

  def session(cpus: Int, out: Path): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.sql.GraftSql.install(s)
    s
  }

  /** Exercise scan, shuffle-aggregate, broadcast-join and window code
    * paths once, so JIT and codegen start-up is billed to set-up. */
  def warmUp(s: SparkSession, data: String): Unit =
    for (q <- Seq("q1_agg", "q3_join"))
      graft.SparkEntry.queries(q)(s, data).write.format("noop")
        .mode("overwrite").save()

  /** Peak resident set of this JVM, in MB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = args("workload")
    val out = Paths.get(args("out")).toAbsolutePath
    Files.createDirectories(out)
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val w: Workload = workload match {
      case "batch" => new Closed(Closed.batch)
      case "ingest" => new Ingest
      case other => sys.error(s"unknown workload $other")
    }

    val setupS = mutable.ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (i <- 1 to Setups) {
      val t0 = System.nanoTime()
      val s = session(Cpus, out)
      val c = Ctx(s, args("data"), out.resolve(s"setup$i"), args("seed").toLong)
      warmUp(s, c.data)
      w.prepare(c)
      setupS += (System.nanoTime() - t0) / 1e9
      if (i < Setups) { w.release(c); s.stop() } else ctx = c
    }

    val fields = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cpus" -> Cpus,
      "seconds" -> seconds, "setup_s" -> setupS.toSeq)
    // block-manager storage still held once the timed loop is over
    def measured(m: Map[String, Any]): Map[String, Any] =
      m + ("storage_bytes_end" -> ctx.spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum)
    val w0 = System.nanoTime()
    fields ++= w.warm(ctx)
    fields("warm_s") = (System.nanoTime() - w0) / 1e9
    fields("untraced") = measured(w.measure(ctx, seconds, None))
    if (traced) {
      // untraced, traced, untraced again: the overhead compares the
      // traced phase with both neighbours, so warming does not bias it
      val tr = new Trace
      ctx.spark.sparkContext.addSparkListener(tr)
      fields("traced") = measured(w.measure(ctx, seconds, Some(tr)))
      ctx.spark.sparkContext.removeSparkListener(tr)
      tr.writeSpans(out.resolve("spans.jsonl"))
      fields("untraced_after") = measured(w.measure(ctx, seconds, None))
    }
    fields ++= w.verify(ctx)
    fields("peak_rss_mb") = peakRssMb()
    ctx.spark.stop()
    Files.writeString(out.resolve("result.json"), Json.any(fields))
  }
}

/** A workload: `prepare` is program-side set-up (billed to setup_s);
  * `warm` runs before the timed loop and `verify` after it, and both
  * return what the launcher needs to check outputs; `measure` runs the
  * timed loop. */
trait Workload {
  def prepare(c: Main.Ctx): Unit = ()
  def release(c: Main.Ctx): Unit = ()
  def warm(c: Main.Ctx): Map[String, Any] = Map.empty
  def verify(c: Main.Ctx): Map[String, Any] = Map.empty
  def measure(c: Main.Ctx, seconds: Double, trace: Option[Trace]): Map[String, Any]
}

/** Wall-clock helpers shared by the workloads: spans and samples use
  * epoch milliseconds derived from one monotonic clock. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms(nano: Long): Long = epoch0 + (nano - nano0) / 1000000L
  def us(nano: Long): Long = epoch0 * 1000L + (nano - nano0) / 1000L
}

/** One closed-loop client issuing a fixed list of ops in order, pass
  * after pass, for about the given time. */
final class Closed(ops: Seq[Closed.Op]) extends Workload {
  import Closed._

  /** Run every op once, dumping its result for the oracle check: also
    * the warm-up of each op's code paths. */
  override def warm(c: Main.Ctx): Map[String, Any] = {
    val errors = mutable.LinkedHashMap.empty[String, String]
    for (op <- ops) {
      try op.run(c.spark, c.data).coalesce(1).write.mode("overwrite")
        .parquet(c.out.resolve("check").resolve(op.name).toString)
      catch { case e: Throwable => errors(op.name) = msg(e) }
      c.spark.catalog.clearCache()
    }
    val oracle = ops.flatMap(op =>
      graft.SparkEntry.oracleSql.get(op.name).map(op.name -> _)).toMap
    Map("check_dir" -> c.out.resolve("check").toString,
      "oracle_sql" -> oracle, "check_errors" -> errors) ++ recall(c)
  }

  /** recall@k of IVF and IVF-PQ against the exact top-k. */
  private def recall(c: Main.Ctx): Map[String, Any] = {
    import org.apache.spark.sql.functions.col
    import graft.sim.Similarity
    val emb = graft.tables.Tables(c.spark, c.data).embeddings
    val q = col("vec_id") < RecallQueries
    def pairs(df: DataFrame) =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.knnBrute(emb, q, RecallK))
    val ivf = pairs(Similarity.knnIvf(emb, q, RecallK))
    val pq = pairs(Similarity.knnIvfPq(emb, q, RecallK))
    c.spark.catalog.clearCache()
    Map("recall" -> Map(
      "ivf" -> (brute & ivf).size.toDouble / brute.size,
      "ivfpq" -> (brute & pq).size.toDouble / brute.size,
      "pairs" -> brute.size))
  }

  def measure(c: Main.Ctx, seconds: Double, trace: Option[Trace])
      : Map[String, Any] = {
    val sc = c.spark.sparkContext
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Double]
    var seq = 0L
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    // whole passes only, so every run times the same op mix; another
    // pass starts only while a whole one still fits in the window
    def another = passes.isEmpty || {
      val next = System.nanoTime() + (passes.last * 1e9).toLong
      next < deadline && next < Main.Deadline
    }
    while (another) {
      val p0 = System.nanoTime()
      for (op <- ops) {
        seq += 1
        val key = s"${op.layer}:${op.name}:$seq"
        sc.setLocalProperty(Trace.OpKey, key)
        val t0 = System.nanoTime()
        var t1 = t0
        val err =
          try {
            val df = op.run(c.spark, c.data)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case e: Throwable => Some(msg(e)) }
        val t2 = System.nanoTime()
        if (t1 == t0) t1 = t2
        sc.setLocalProperty(Trace.OpKey, null)
        trace.foreach { tr =>
          val root = tr.span(0, seq, op.layer, key, Clock.ms(t0), Clock.ms(t2))
          tr.span(root, seq, op.layer, "plan", Clock.ms(t0), Clock.ms(t1))
          tr.span(root, seq, op.layer, "exec", Clock.ms(t1), Clock.ms(t2))
        }
        samples += Map("op" -> op.name, "layer" -> op.layer,
          "s" -> (t2 - t0) / 1e9, "error" -> err)
        // as graft.Bench: a query's pinned intermediates must not leak
        // into its neighbours' memory; outside the op's own timing
        c.spark.catalog.clearCache()
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val end = System.nanoTime()
    Map("samples" -> samples, "passes" -> passes,
      "wall_s" -> (end - start) / 1e9) ++
      trace.map(tr => "layers" -> tr.summary(Clock.ms(start), Clock.ms(end), Main.Cpus))
  }
}

object Closed {
  final case class Op(name: String, layer: String,
                      run: (SparkSession, String) => DataFrame)

  val RecallQueries = 50
  val RecallK = 10

  private def q(layer: String)(names: String*): Seq[Op] =
    names.map(n => Op(n, layer, graft.SparkEntry.queries(n)))

  /** The read-only closed loop: relational analytics and the tube
    * calculus (many short ops, so driver and planning time show), then
    * the LLM-data pipeline's text, dedup, ANN and Fixpoint graph ops
    * (CPU-heavy and bound by job count). */
  val batch: Seq[Op] =
    q("ops")("q1_agg", "q3_join", "q_window_rank", "q_rollup", "q_asof") ++
    q("core")("q_scan", "q_running_avg") ++
    q("text")("q_tokens", "q_quality_filter") ++
    q("dedup")("q_dedup_minhash") ++
    q("sim")("q_knn_ivf") ++
    q("core")("q_kcore")

  def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
}
