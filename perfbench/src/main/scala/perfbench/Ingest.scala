package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

import graft.ops.Scale
import graft.streaming.Streams
import graft.tables.VersionStore

/** The open-loop write workload. A generator thread drops one change
  * file every `1/FilesPerS` seconds, on a schedule that does not slow
  * when the system does; each row carries the epoch time it was due.
  * Half of the rows correct an existing event, chosen by a Zipf law
  * that favours the newest events; the rest insert new events.
  * Query 1 merges every micro-batch into one long-lived versioned
  * events table ([[Streams.cowMergeBatch]], keyed by `event_id`, the
  * highest change `seq` wins) and runs [[Scale.optimizeTable]] after
  * every `OptimizeEvery` commits of a phase; query 2 keeps
  * [[Streams.hourlyRollup]] of the changes under its watermark. One
  * reader meanwhile issues SQL snapshot reads, SQL time-travel reads
  * and stats-pruned point reads against the table, one per tick of
  * `ReadEveryS`; a tick that finds the previous read still running is
  * skipped. Reads thus start at the same offsets from the commits in
  * every run, so the share of reads that overlap a commit is fixed.
  *
  * Both queries start in `warm`, merge one file there, and run until
  * `verify`, so every measured phase sees warm queries on one
  * long-lived table. They fire on the epoch-aligned grid of one
  * trigger interval and every phase's generator starts on that grid:
  * the batch that takes a phase's last file then sits at the same
  * offset in every run. */
final class Ingest extends Workload {
  import Ingest._

  private var dirs: Dirs = _
  private var baseRows = 0L
  private var filesDropped = 0L
  private var rowsDropped = 0L
  private var changeBytes = 0L
  @volatile private var headV = 0L
  /** True while the merge query runs a batch, optimize included. */
  @volatile private var inBatch = false
  @volatile private var phase = new Phase
  private var queries = Seq.empty[StreamingQuery]
  private var listener: StreamingQueryListener = _

  override def prepare(c: Main.Ctx): Unit = {
    dirs = Dirs(c.out.resolve("ingest"))
    val s = c.spark
    graft.tables.Tables(s, c.data).events
      .select(col("event_id"), lit(-1L).as("seq"), col("ts"), col("user_id"),
        col("event_type"), col("value"), lit(0L).as("due_us"))
      .repartitionByRange(BaseFiles, col("event_id"))
      .sortWithinPartitions("event_id").write.parquet(dirs.src.toString)
    Scale.analyzeTable(s, dirs.src.toString, dirs.tbl.toString, Seq("event_id"))
    baseRows = s.read.parquet(dirs.src.toString).count()
    Files.createDirectories(dirs.changes)
  }

  override def release(c: Main.Ctx): Unit = deleteTree(dirs.root)

  /** Start both queries, merge one change file through them and warm
    * up the reads. */
  override def warm(c: Main.Ctx): Map[String, Any] = {
    val s = c.spark
    val sc = s.sparkContext
    val tbl = dirs.tbl.toString
    headV = VersionStore.head(s, tbl).getOrElse(0L)
    listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(m => phase.fail(m.take(300)))
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val ph = phase
        ph.synchronized(ph.progress += Progress(p.name,
          ms("triggerExecution"), ms("queryPlanning"), p.numInputRows,
          p.processedRowsPerSecond, p.stateOperators.map(_.memoryUsedBytes).sum))
      }
    }
    s.streams.addListener(listener)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("seq", LongType),
      StructField("ts_us", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("due_us", LongType)))
    def changes(): DataFrame = s.readStream.schema(schema)
      .json(dirs.changes.toString)
      .select(col("event_id"), col("seq"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("due_us"))
    val trigger = Trigger.ProcessingTime((TriggerS * 1000).toLong)

    val merge = changes().writeStream.queryName("merge").trigger(trigger)
      .option("checkpointLocation", dirs.ckptMerge.toString)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        inBatch = true
        val ph = phase
        val key = s"tables:commit:$id"
        sc.setLocalProperty(Trace.OpKey, key)
        val t0 = System.nanoTime()
        val ok =
          try {
            Streams.cowMergeBatch(dirs.src.toString, tbl, Seq("event_id"),
              Seq("seq"))(batch, id)
            true
          } catch { case e: Throwable => ph.fail(s"commit $id: ${Closed.msg(e)}"); false }
        val t1 = System.nanoTime()
        sc.setLocalProperty(Trace.OpKey, "bench")
        // every row of the batch is visible from t1 on: its latency is
        // t1 minus the time it was due
        val dues = batch.groupBy("due_us").count().collect()
        val n = dues.map(_.getLong(1)).sum
        ph.synchronized {
          dues.foreach(r => ph.latency += ((Clock.us(t1) - r.getLong(0)) / 1e6 -> r.getLong(1)))
          ph.commits += Map("s" -> (t1 - t0) / 1e9, "rows" -> n, "ok" -> ok)
          ph.rowsCommitted += n
          ph.lastVisible = t1
        }
        headV = VersionStore.head(s, tbl).getOrElse(headV)
        ph.trace.foreach { tr =>
          val root = tr.span(0, id, "tables", key, Clock.ms(t0), Clock.ms(t1))
          tr.span(root, id, "tables", "plan", Clock.ms(t0), Clock.ms(t1))
        }
        if (ok && n > 0 && ph.commits.size % OptimizeEvery == 0) {
          val okey = s"tables:optimize:$id"
          sc.setLocalProperty(Trace.OpKey, okey)
          val before = treeBytes(dirs.tbl)
          val o0 = System.nanoTime()
          try Scale.optimizeTable(s, dirs.src.toString, tbl, TargetMb)
          catch { case e: Throwable => ph.fail(s"optimize $id: ${Closed.msg(e)}") }
          val o1 = System.nanoTime()
          ph.trace.foreach(_.span(0, id, "tables", okey, Clock.ms(o0), Clock.ms(o1)))
          ph.synchronized(ph.optimizes += Map("s" -> (o1 - o0) / 1e9,
            "bytes" -> (treeBytes(dirs.tbl) - before)))
          headV = VersionStore.head(s, tbl).getOrElse(headV)
        }
        sc.setLocalProperty(Trace.OpKey, null)
        inBatch = false
      }.start()
    val rollup = Streams.hourlyRollup(changes()).writeStream.queryName("rollup")
      .trigger(trigger).outputMode("append").format("parquet")
      .option("path", dirs.rollup.toString)
      .option("checkpointLocation", dirs.ckptRollup.toString)
      .start()
    queries = Seq(merge, rollup)

    drop(generator(c), System.nanoTime())
    val by = drainBy()
    while (phase.rowsCommitted < rowsDropped && System.nanoTime() < by && merge.isActive)
      Thread.sleep(20)
    // the reader's code paths too, so the first measured reads are warm
    val rng = new java.util.SplittableRandom(c.seed)
    val errs = for (_ <- 1 to WarmReads; kind <- ReadKinds)
      yield read(s, kind, rng, mutable.Buffer.empty)._2
    errs.flatten.foreach(phase.fail)
    Map("warm_failures" -> phase.synchronized(phase.failures.toSeq))
  }

  /** Stop the queries and dump the final table for the launcher's
    * last-writer-wins replay and rollup check. */
  override def verify(c: Main.Ctx): Map[String, Any] = {
    val s = c.spark
    queries.foreach(_.stop())
    s.streams.removeListener(listener)
    val check = c.out.resolve("check")
    Scale.readTable(s, dirs.tbl.toString)
      .select("event_id", "seq", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(check.resolve("table").toString)
    Map("ingest" -> Map(
      "events_dir" -> c.data,
      "changes_dir" -> dirs.changes.toString,
      "table_dir" -> check.resolve("table").toString,
      "rollup_dir" -> dirs.rollup.toString,
      "files" -> filesDropped, "rows" -> rowsDropped, "base_rows" -> baseRows))
  }

  private def generator(c: Main.Ctx) =
    new Generator(c.seed, baseRows)

  /** Write the next change file, due at `dueNs`; returns its lateness. */
  private def drop(gen: Generator, dueNs: Long): Double = {
    val k = filesDropped
    val body = gen.file(k, Clock.us(dueNs))
    val tmp = dirs.root.resolve(f".tmp-$k%08d.json")
    Files.write(tmp, body)
    Files.move(tmp, dirs.changes.resolve(f"part-$k%08d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    filesDropped += 1
    rowsDropped += RowsPerFile
    changeBytes += body.length
    (System.nanoTime() - dueNs) / 1e9
  }

  /** One reader op of the given kind; returns the time its call into
    * the library returned and what its check found wrong. */
  private def read(s: org.apache.spark.sql.SparkSession, kind: String,
                   rng: java.util.SplittableRandom,
                   pruned: mutable.Buffer[Seq[Long]]): (Long, Option[String]) = {
    val tbl = dirs.tbl.toString
    var t1 = System.nanoTime()
    val err =
      try kind match {
        case "snapshot_sql" | "time_travel_sql" =>
          val asOf =
            if (kind == "snapshot_sql") ""
            else s" VERSION AS OF ${rng.nextLong(headV + 1)}"
          val df = s.sql(s"SELECT count(*) AS n, count(DISTINCT event_id) AS k " +
            s"FROM graft.`$tbl`$asOf")
          t1 = System.nanoTime()
          val r = df.head()
          // keys stay unique and no committed event is ever lost
          if (r.getLong(0) == r.getLong(1) && r.getLong(0) >= baseRows) None
          else Some(s"$kind saw ${r.getLong(0)} rows and ${r.getLong(1)} keys")
        case _ =>
          val k = rng.nextLong(baseRows)
          val (df, ps) = Scale.readTablePruned(s, tbl, s"event_id = $k")
          t1 = System.nanoTime()
          val rows = df.select("event_id").collect()
          pruned += Seq(ps.filesRead, ps.filesTotal)
          if (rows.length == 1 && rows(0).getLong(0) == k) None
          else Some(s"point read of $k returned ${rows.length} rows")
      } catch { case e: Throwable => Some(Closed.msg(e)) }
    (t1, err)
  }

  def measure(c: Main.Ctx, seconds: Double, trace: Option[Trace])
      : Map[String, Any] = {
    val s = c.spark
    val sc = s.sparkContext
    val tbl = dirs.tbl.toString
    val ph = new Phase(trace)
    phase = ph
    val rowsAtStart = rowsDropped
    val bytesAtStart = treeBytes(dirs.tbl) + treeBytes(dirs.src)
    val changeBytesAtStart = changeBytes

    // the reader: one read per tick, cycling over three read shapes
    val stop = new AtomicBoolean(false)
    val tickNs = (ReadEveryS * 1e9).toLong
    var skipped = 0L
    var start = 0L
    val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    val pruned = mutable.ArrayBuffer.empty[Seq[Long]]
    val rng = new java.util.SplittableRandom(c.seed * 7919L + filesDropped)
    val reader = new Thread(() => {
      var seq = 0L
      var tick = 0L
      while (!stop.get()) {
        val wait = start + tick * tickNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        seq += 1
        val kind = ReadKinds((seq % ReadKinds.size).toInt)
        val layer = if (kind == "point_read") "tables" else "sql"
        val key = s"$layer:$kind:$seq"
        sc.setLocalProperty(Trace.OpKey, key)
        val t0 = System.nanoTime()
        val (t1, err) = read(s, kind, rng, pruned)
        val t2 = System.nanoTime()
        sc.setLocalProperty(Trace.OpKey, null)
        trace.foreach { tr =>
          val root = tr.span(0, seq, layer, key, Clock.ms(t0), Clock.ms(t2))
          tr.span(root, seq, layer, "plan", Clock.ms(t0), Clock.ms(t1))
          tr.span(root, seq, layer, "exec", Clock.ms(t1), Clock.ms(t2))
        }
        reads += Map("op" -> kind, "layer" -> layer, "s" -> (t2 - t0) / 1e9,
          "error" -> err)
        val next = (System.nanoTime() - start + tickNs - 1) / tickNs
        skipped += next - tick - 1
        tick = next
      }
    }, "perfbench-reader")

    // the generator: file i is due at start + i / rate, whatever the system does
    val gen = generator(c)
    // until the phase starts on the trigger grid, keep the read paths
    // warm with untimed reads
    val gridMs = (TriggerS * 1000).toLong
    val startMs = System.currentTimeMillis() / gridMs * gridMs + gridMs + GridOffsetMs
    val warmRng = new java.util.SplittableRandom(c.seed)
    var warmSeq = 0
    while (System.currentTimeMillis() < startMs - 500) {
      warmSeq += 1
      read(s, ReadKinds(warmSeq % ReadKinds.size), warmRng, mutable.Buffer.empty)
        ._2.foreach(ph.fail)
    }
    Thread.sleep(math.max(0L, startMs - System.currentTimeMillis()))
    start = System.nanoTime()
    reader.start()
    val lateness = (0L until math.max(1L, math.round(seconds * FilesPerS))).map { i =>
      val dueNs = start + (i * 1e9 / FilesPerS).toLong
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      drop(gen, dueNs)
    }
    val phaseRows = rowsDropped - rowsAtStart
    val backlog = phaseRows - ph.rowsCommitted
    val by = drainBy()
    while (ph.rowsCommitted < phaseRows && System.nanoTime() < by &&
           queries.forall(_.isActive))
      Thread.sleep(20)
    val drained = ph.rowsCommitted >= phaseRows
    // the phase owns its last batch's optimize: wait for it to finish,
    // and for the engine's progress report of every merge batch
    def reported = ph.synchronized(ph.progress.count(p => p.query == "merge" && p.rows > 0))
    while ((inBatch || reported < ph.commits.size) && System.nanoTime() < by)
      Thread.sleep(20)
    stop.set(true)
    reader.join()
    val end = System.nanoTime()

    val live = VersionStore.manifest(s, tbl, VersionStore.head(s, tbl).get)
    val liveBytes = live.map(f => Files.size(asPath(f))).sum
    val totalBytes = treeBytes(dirs.tbl) + treeBytes(dirs.src)
    ph.synchronized {
      val batches = ph.progress.filter(_.rows > 0).toSeq
      val merges = batches.filter(_.query == "merge")
      val tableS = (ph.commits ++ ph.optimizes).map(_("s").asInstanceOf[Double]).sum
      val execS = batches.map(b => b.triggerMs - b.planMs).sum / 1000.0
      Map(
        "samples" -> reads.toSeq,
        "reads_skipped" -> skipped,
        "run_s" -> ((if (drained) ph.lastVisible else end) - start) / 1e9,
        "wall_s" -> (end - start) / 1e9,
        "drained" -> drained,
        "failures" -> ph.failures.toSeq,
        "event_latency" -> ph.latency.map { case (l, n) => Seq(l, n.toDouble) }.toSeq,
        "commits" -> ph.commits.toSeq,
        "optimizes" -> ph.optimizes.toSeq,
        "generator_late_s" -> lateness,
        "backlog_rows" -> backlog,
        "files_live" -> live.size,
        "space_amp" -> totalBytes.toDouble / math.max(1L, liveBytes),
        "write_amp" -> (totalBytes - bytesAtStart).toDouble /
          math.max(1L, changeBytes - changeBytesAtStart),
        "pruned" -> pruned.toSeq,
        // the engine's own view of both queries' micro-batches: planning,
        // the rest of each trigger, and that rest minus the table work
        // the merge batches called
        "streaming" -> Map(
          "ops" -> batches.size,
          "plan_s" -> batches.map(_.planMs).sum / 1000.0,
          "exec_s" -> execS,
          "self_s" -> (execS - tableS),
          "batches" -> merges.size,
          "batch_s" -> merges.map(_.triggerMs / 1000.0),
          "rows_per_s" -> merges.map(_.rowsPerS),
          "state_bytes" -> ph.progress.filter(_.query == "rollup").lastOption
            .map(_.stateBytes).getOrElse(0L))) ++
        trace.map(tr => "layers" -> tr.summary(Clock.ms(start), Clock.ms(end), Main.Cpus))
    }
  }
}

object Ingest {
  /** The fixed open-loop schedule: 4 files/s of 50 rows, 200 rows/s. */
  val FilesPerS = 4.0
  val RowsPerFile = 50
  /** Zipf exponent of the corrected events' recency rank. */
  val Skew = 1.1
  /** Both queries' trigger interval, and the grid phases start on. */
  val TriggerS = 6.0
  /** Optimize after every this many commits of a phase. */
  val OptimizeEvery = 2
  val TargetMb = 0.1
  /** Range-clustered files of the base table. */
  val BaseFiles = 8
  /** The reader's tick. */
  val ReadEveryS = 0.5
  val ReadKinds = Seq("snapshot_sql", "time_travel_sql", "point_read")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")
  /** Event time of change file 0; each file advances it by StepUs. */
  val EventT0Us = 1706745600000000L // 2024-02-01T00:00:00Z
  val StepUs = 300L * 1000000L
  /** Inserted event ids start above every generated base event id. */
  val IdBase = 1000000000000L
  /** The generator starts this long after a trigger fires. */
  val GridOffsetMs = 100L
  /** A phase fails unless its rows are visible this long after the last
    * was due; no wait goes past [[Main.Deadline]]. */
  val DrainLimitNs = 30L * 1000000000L
  def drainBy(): Long = math.min(System.nanoTime() + DrainLimitNs, Main.Deadline)
  /** Untimed reads of each kind before the first measured phase. */
  val WarmReads = 3

  final case class Progress(query: String, triggerMs: Long, planMs: Long,
                            rows: Long, rowsPerS: Double, stateBytes: Long)

  /** What the queries report while one measured phase is current. */
  final class Phase(val trace: Option[Trace] = None) {
    val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
    val optimizes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val latency = mutable.ArrayBuffer.empty[(Double, Long)]
    val failures = mutable.ArrayBuffer.empty[String]
    val progress = mutable.ArrayBuffer.empty[Progress]
    @volatile var rowsCommitted = 0L
    @volatile var lastVisible = 0L
    def fail(m: String): Unit = synchronized(failures += m)
  }

  final case class Dirs(root: Path) {
    val src = root.resolve("src")
    val tbl = root.resolve("tbl")
    val changes = root.resolve("changes")
    val rollup = root.resolve("rollup")
    val ckptMerge = root.resolve("ckpt-merge")
    val ckptRollup = root.resolve("ckpt-rollup")
  }

  /** Seeded change rows. Row j of file k has change sequence number
    * `k * RowsPerFile + j`; with probability one half it corrects base event
    * `baseRows - 1 - r`, r drawn from a Zipf law of exponent [[Skew]]
    * (recent events are hot), else it inserts event `IdBase + seq`. */
  final class Generator(seed: Long, baseRows: Long) {
    private val cdf = {
      val w = Array.tabulate(baseRows.toInt)(i => math.pow(i + 1.0, -Skew))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private def rank(u: Double): Long = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, cdf.length - 1).toLong
    }

    def file(k: Long, dueUs: Long): Array[Byte] = {
      val r = new java.util.SplittableRandom(seed * 1000003L + k)
      val b = new StringBuilder
      for (j <- 0 until RowsPerFile) {
        val seq = k * RowsPerFile + j
        val id = if (r.nextBoolean()) baseRows - 1 - rank(r.nextDouble()) else IdBase + seq
        val ts = EventT0Us + k * StepUs + r.nextLong(StepUs)
        val cents = r.nextLong(0, 50000)
        b ++= s"""{"event_id":$id,"seq":$seq,"ts_us":$ts,"user_id":${r.nextInt(1000)},""" +
          s""""event_type":"${EventTypes(r.nextInt(EventTypes.length))}",""" +
          s""""value":${cents / 100}.${f"${cents % 100}%02d"},"due_us":$dueUs}""" + "\n"
      }
      b.toString.getBytes(StandardCharsets.UTF_8)
    }
  }

  def asPath(f: String): Path =
    java.nio.file.Paths.get(new java.net.URI(if (f.contains(":")) f else s"file://$f"))

  /** Bytes of the regular files under `p`; a file that a concurrent
    * commit removes mid-walk is skipped. */
  def treeBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p))
      Files.walkFileTree(p, new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile) total += a.size
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
    total
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
}
