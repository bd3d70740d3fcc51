package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.{Sessions, SparkEntry}
import graft.etl.{Api, Catalog, CryptoConfig, Ingest, MergeWriter, Pipeline, Streaming}
import graft.ext.{Cluster, Corpus, Dedup, Pipe, TextStats}

/** Benchmark JVM: one workload, one session, one client thread.
  *
  * Reads the generated inputs' descriptor (`--inputs`), times the
  * workload's closed loop for `--seconds`, runs the in-JVM correctness
  * checks and dumps everything the Python side needs (timings, answers
  * to compare against DuckDB, per-layer figures) to `--out` as JSON. */
object Main {

  final class Ctx(val spark: SparkSession, val in: JsonNode, val work: String,
      val seconds: Double, val traced: Boolean, val seed: Long) {
    val out = mutable.LinkedHashMap[String, Any]()
    val layer = mutable.LinkedHashMap[String, Double]()
    val tracer = new Tracer(spark)
    val cores: Int = in.get("cores").asInt
    var attempted = 0L
    var failed = 0L
    var peakHeapMb = 0.0
    def crypto: CryptoConfig = {
      val c = in.get("crypto")
      CryptoConfig(c.get("passphrase").asText, c.get("salt_b64").asText, c.get("iterations").asInt)
    }
    def files(key: String): Seq[JsonNode] = in.get(key).elements().asScala.toSeq
    /** Run one timed operation, with the listeners attached when
      * `traceThis`; returns its result and wall seconds. */
    def op[A](traceThis: Boolean, name: String)(body: => A): (A, Double) = {
      if (traceThis) tracer.attach()
      val t0 = System.nanoTime()
      val r = tracer.span(name)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      if (traceThis) tracer.detach()
      pollHeap()
      (r, dt)
    }
    /** In trace mode every other operation of a kind is traced, starting
      * with the first; the untraced ones give the overhead baseline (a
      * loop runs at least two operations, so it holds one of each). */
    def traceOp(k: Int): Boolean = traced && k % 2 == 0
    /** Closed loop: after `done` operations, start another if fewer than
      * two have run, or if it is expected to end within the measured
      * window, judged by the last one's duration. */
    def another(loop0: Long, done: Int, lastS: => Double): Boolean =
      done < 2 || (System.nanoTime() - loop0) / 1e9 + lastS <= seconds
    def pollHeap(): Unit = {
      val used = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum
      peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val in = new ObjectMapper().readTree(Paths.get(a("inputs")).toFile)
    val spark = Sessions.local(in.get("cores").asInt, "perfbench")
    val ctx = new Ctx(spark, in, a("work"), a("seconds").toDouble, a("trace") == "1", a("seed").toLong)
    ctx.out("settings") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.default.parallelism"
    }.toSeq.sortBy(_._1).toMap
    try {
      a("workload") match {
        case "sync" => SyncWorkload.run(ctx)
        case "corpus_prep" => CorpusPrep.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.out("attempted") = ctx.attempted
      ctx.out("failed") = ctx.failed
      ctx.out("peak_heap_mb") = ctx.peakHeapMb
      if (ctx.traced) {
        ctx.out("per_layer") = ctx.layer.toMap
        ctx.out("spans") = ctx.tracer.spans.map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
            "end_ms" -> s.endMs, "self_ms" -> ctx.tracer.selfMs(s), "run_id" -> a("run_id"))
        }.toSeq
      }
      new ObjectMapper().registerModule(DefaultScalaModule).writeValue(Paths.get(a("out")).toFile, ctx.out)
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }

  // ---- helpers shared by the workloads ----

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Rows as JSON objects, timestamps as epoch microseconds. */
  def answer(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == TimestampType) unix_micros(col(f.name)).as(f.name) else col(f.name)
    }
    df.select(cols.toIndexedSeq: _*).toJSON.collect().toSeq
  }

  /** Copy a staged file into the stream's source dir: hidden name first,
    * then an atomic rename, so the file source never sees a partial file. */
  def deliver(staged: String, srcDir: String, name: String): Unit = {
    val tmp = Paths.get(srcDir, s".$name.tmp")
    Files.copy(Paths.get(staged), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(System.currentTimeMillis()))
    Files.move(tmp, Paths.get(srcDir, name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Writes `phase.<name>` keys into a metric map. */
final class Prefixed(m: mutable.Map[String, Double], phase: String) {
  def update(k: String, v: Double): Unit = m(s"$phase.$k") = v
}

/** Ingest-stream plumbing and the per-layer figures of the sync workload. */
object Sync {
  import Main._

  val Tables = Seq("messages", "participants", "rooms", "sync_state", "logs")

  final class Stream(val ctx: Ctx, val srcDir: String, val ckpt: String, val root: String) {
    val catalog = Catalog(root)
    catalog.bootstrap()
    val pipeline = Pipeline(catalog, Some(ctx.crypto))
    var lastBatch = -1L
    val delivered = mutable.ArrayBuffer[String]()

    /** Drain everything currently in the source dir, running the
      * maintenance pass every `maintainEvery` batches; returns batches run. */
    def drain(maintainEvery: Int): Int = ctx.tracer.span("etl.Streaming.run") {
      val q = Streaming.startFullIngestJsonl(ctx.spark, srcDir, ckpt, pipeline,
        maxFilesPerTrigger = ctx.in.get("max_files_per_trigger").asInt,
        maintainEvery = maintainEvery)
      q.awaitTermination()
      val ps = q.recentProgress.filter(_.numInputRows > 0)
      ps.lastOption.foreach(p => lastBatch = p.batchId)
      ps.length
    }

    def syncVersion: Long = MergeWriter.currentVersion(catalog.dir("sync_state")).getOrElse(-1L)

    def storedBytes: Long = dirBytes(Paths.get(root))
  }

  /** Redeliver already committed events under new file names, in one
    * micro-batch: the serving tables must not change, and the append-only
    * logs and sync_state must grow by exactly those files' bad lines and
    * one token. `files` are the last live file (a whole committed batch)
    * and lines of one catch-up file that are not state events (part of
    * the committed catch-up batch). */
  def replayCheck(st: Stream, files: Seq[JsonNode], maintainEvery: Int): Map[String, Any] = {
    val spark = st.ctx.spark
    // order-independent content digest per table: row count and the sum
    // of row hashes, all tables in one query
    def digests(): Map[String, (Long, java.math.BigDecimal)] = {
      val parts = Tables.map { t =>
        val df = st.catalog.read(spark, t)
        val cols = df.columns.filterNot(_ == "processed_at").map(col).toIndexedSeq
        df.agg(lit(t).as("t"), count(lit(1)).as("n"),
          coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))
      }
      parts.reduce(_ unionByName _).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2)))).toMap
    }
    val before = digests()
    files.foreach { f =>
      val path = f.get("path").asText
      deliver(path, st.srcDir, "replay-" + Paths.get(path).getFileName.toString)
      st.delivered += path
    }
    val batches = st.drain(maintainEvery)
    val after = digests()
    val changed = Seq("messages", "participants", "rooms").filter(t => before(t) != after(t))
    val logsAdded = after("logs")._1 - before("logs")._1
    val syncAdded = after("sync_state")._1 - before("sync_state")._1
    val bad = files.map(_.get("bad").asLong).sum
    val ok = batches == 1 && changed.isEmpty && logsAdded == bad && syncAdded == 1
    Map("ok" -> ok, "files" -> files.size, "batches" -> batches, "serving_tables_changed" -> changed,
      "logs_added" -> logsAdded, "logs_expected" -> bad, "sync_state_added" -> syncAdded)
  }

  /** Per-batch stream, pipeline and write-side figures of one phase, from
    * its traced operations. */
  def layerFromOps(ctx: Ctx, phase: String, opSpans: Seq[Span], events: Double): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val L = new Prefixed(ctx.layer, phase)
    val qes = tr.qesUnder(opSpans)
    val runSpans = opSpans.flatMap(tr.children).filter(_.name == "etl.Streaming.run")
    val jobBatches = tr.jobsUnder(opSpans).filter(_.batch.isDefined)
    val batchKeys = jobBatches.flatMap(_.batch).toSet
    val progress = tr.progress.asScala.toSeq
      .filter(p => batchKeys.contains((p.queryId, p.batchId)) && p.inputRows > 0)
    val nb = math.max(1, progress.size).toDouble
    val nOps = math.max(1, opSpans.size).toDouble
    def dur(p: ProgressRec, k: String): Double = p.durations.getOrElse(k, 0L) / 1000.0
    L("streaming.batches") = progress.size / nOps
    L("streaming.trigger_s") = progress.map(dur(_, "triggerExecution")).sum / nb
    L("streaming.add_batch_s") = progress.map(dur(_, "addBatch")).sum / nb
    L("streaming.offsets_s") = progress.map(p => dur(p, "latestOffset") + dur(p, "walCommit")).sum / nb
    L("streaming.log_commit_s") = progress.map(dur(_, "commitOffsets")).sum / nb
    L("streaming.start_s") = (runSpans.map(_.durMs / 1000).sum -
      progress.map(dur(_, "triggerExecution")).sum) / math.max(1, runSpans.size)
    // tag of a write: <root>/<table>/seg/v<n>-<tag>
    def tagOf(q: QeRec): Option[(String, String)] = q.writePath.flatMap { p =>
      val parts = p.split("/")
      val i = parts.indexOf("seg")
      if (i > 0 && i + 1 < parts.length) Some((parts(i - 1), parts(i + 1).split("-", 2).last)) else None
    }
    val writes = qes.flatMap(q => tagOf(q).map(t => (t, q)))
    def wsum(table: String, tag: String): Double =
      writes.filter(_._1 == ((table, tag))).map(_._2.durMs / 1000).sum / nb
    Seq("messages", "participants", "rooms", "sync_state").foreach(t =>
      L(s"merge.${t}_s") = wsum(t, "merge"))
    L("append.logs_s") = wsum("logs", "append")
    val merges = writes.filter(w => w._1._2 == "merge")
    L("merge.rows_written_per_event") = merges.map(_._2.writeRows).sum / math.max(1.0, events)
    L("merge.buckets_touched") = merges.map(_._2.writeParts).sum / nb
    L("merge.segments_written") = writes.count(w => w._1._2 == "merge" || w._1._2 == "append") / nb
    val compacts = writes.filter(_._1._2 == "compact")
    L("maintain.rows_rewritten") = compacts.map(_._2.writeRows).sum / nOps
    L("pipeline.maintain_s") = compacts.map(_._2.durMs / 1000).sum / nOps
    val byBatch = jobBatches.groupBy(_.batch.get)
    L("pipeline.jobs_per_batch") = jobBatches.size / nb
    val selfs = progress.map { p =>
      val js = byBatch.getOrElse((p.queryId, p.batchId), Nil)
      dur(p, "addBatch") - Tracer.covered(js.map(j => (j.startMs.toDouble, j.endMs.toDouble))) / 1000
    }
    L("pipeline.driver_self_s") = mean(selfs)
    L("pipeline.apply_batch_s") = (progress.map(dur(_, "addBatch")).sum -
      compacts.map(_._2.durMs / 1000).sum) / nb
  }

  /** Storage state of the catalog at the end of the timed region. */
  def storageLayer(ctx: Ctx, st: Stream): Unit = {
    val ts = st.catalog.tables.keys.toSeq.filter(st.catalog.exists)
    ctx.layer("storage.live_segments") =
      ts.map(t => MergeWriter.manifestFull(st.catalog.dir(t)).size).sum.toDouble
    ctx.layer("storage.versions_kept") = ts.map { t =>
      Files.list(Paths.get(st.catalog.dir(t))).iterator().asScala
        .count(p => p.getFileName.toString.matches("v\\d+"))
    }.sum.toDouble
  }

  /** Ingest is lazy inside the stream, so its transforms are timed here
    * on their own: each public transform over batch-sized groups of the
    * delivered files, materialized with a `noop` write. */
  def ingestLayer(ctx: Ctx, st: Stream, groups: Seq[Seq[String]]): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    tr.attach()
    val counts = mutable.Map[String, Double]().withDefaultValue(0.0)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    groups.foreach { files =>
      tr.span("etl.Ingest.transform") {
        val raw = Ingest.rawFromJsonLines(spark.read.text(files: _*))
        val obsRaw = org.apache.spark.sql.Observation()
        noop(raw.observe(obsRaw, count(lit(1)).as("n")))
        counts("rows_in") += obsRaw.get("n").asInstanceOf[Long]
        val obs = org.apache.spark.sql.Observation()
        val msgs = Ingest.decryptMessages(
          Ingest.messagesFromRaw(raw.filter(col("event_type") =!= "m.graft.corrupt")), ctx.crypto)
        noop(msgs.observe(obs, count(lit(1)).as("n"),
          sum(when(col("error").isNull, 1L).otherwise(0L)).as("clean"),
          sum(when(col("is_encrypted"), 1L).otherwise(0L)).as("enc"),
          sum(when(col("error").startsWith("decrypt_failed"), 1L).otherwise(0L)).as("dfail")))
        val m = obs.get
        def g(k: String): Double = m.get(k).map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)
        counts("messages_out") += g("clean")
        counts("quarantined") += g("n") - g("clean")
        counts("decrypt_rows") += g("enc")
        counts("decrypt_failed") += g("dfail")
        noop(Ingest.projectParticipant(raw))
        noop(Ingest.projectRooms(raw))
      }
      tr.span("etl.Ingest.member_consult") {
        val raw = Ingest.rawFromJsonLines(spark.read.text(files: _*))
        val rooms = raw.filter(col("event_type") === "m.room.member").select("room_id")
          .distinct().collect().map(_.getString(0)).toSeq
        val state = st.catalog.readForKeys(spark, "participants", rooms)
          .filter(col("room_id").isin(rooms: _*))
        noop(Ingest.projectParticipant(raw, Some(state)))
      }
    }
    tr.detach()
    val n = math.max(1, groups.size).toDouble
    ctx.layer("ingest.transform_s") = tr.spansNamed("etl.Ingest.transform").map(_.durMs / 1000).sum / n
    ctx.layer("ingest.member_consult_s") =
      tr.spansNamed("etl.Ingest.member_consult").map(_.durMs / 1000).sum / n
    ctx.layer("ingest.rows_in") = counts("rows_in") / n
    ctx.layer("ingest.messages_out") = counts("messages_out") / n
    ctx.layer("ingest.quarantined") = counts("quarantined") / n
    ctx.layer("decrypt.rows") = counts("decrypt_rows") / n
    ctx.layer("decrypt.failed") = counts("decrypt_failed") / n
  }

  /** Engine figures per timed operation, over the traced operations. */
  def engineLayer(ctx: Ctx, phase: String, opSpans: Seq[Span]): Unit = {
    val tr = ctx.tracer
    tr.drain()
    val n = math.max(1, opSpans.size).toDouble
    val e = tr.engineOf(opSpans)
    val wallS = opSpans.map(_.durMs / 1000).sum
    val L = new Prefixed(ctx.layer, phase)
    L("spark.jobs") = e.jobs / n
    L("spark.tasks") = e.tasks / n
    L("spark.executor_run_s") = e.runMs / 1000.0 / n
    L("spark.executor_cpu_s") = e.cpuNs / 1e9 / n
    L("spark.core_busy_ratio") = if (wallS > 0) e.runMs / 1000.0 / (wallS * ctx.cores) else 0.0
    L("spark.shuffle_write_bytes") = e.shuffleWrite / n
    L("spark.shuffle_read_bytes") = e.shuffleRead / n
    L("spark.shuffle_records") = e.shuffleRecords / n
    L("spark.spill_bytes") = e.spill / n
    L("spark.peak_exec_mem_mb") = e.peakExecMem / 1048576.0
    L("spark.gc_s") = e.gcMs / 1000.0 / n
  }

  def overhead(ctx: Ctx, ops: Seq[(Double, Boolean)]): Unit = {
    val tracedOps = ops.filter(_._2).map(_._1)
    val plain = ops.filterNot(_._2).map(_._1)
    ctx.layer("tracing.overhead_ratio") =
      if (tracedOps.isEmpty || plain.isEmpty) 0.0 else median(tracedOps) / median(plain) - 1.0
  }
}

/** One sync client over one catalog and one stream checkpoint, timed in
  * two phases.
  *
  * Set-up, which is also the warm-up: the stream's first run drains its
  * history into an empty catalog and one dashboard round runs; then the
  * backlog that arrived while the stream was down is delivered.
  *
  * Catch-up: the stream comes back and drains that backlog in one large
  * micro-batch through the JSONL stream entry, merging into the history
  * and ending with a maintenance pass. The data path (decrypt, bucket
  * merges, shuffle, compaction) takes most of the drain.
  *
  * Live, in its own window: steady-state sync with the dashboard open,
  * starting from the catalog catch-up built. Each step delivers one small
  * file, runs it through the same stream entry until it is committed, then
  * issues one dashboard round; the next step starts when the round returns
  * (closed loop, one client). Fixed per-batch cost dominates here, and
  * reads run over segments fragmented since the catch-up's pass. */
object SyncWorkload {
  import Main._, Sync._

  final class Dashboard(ctx: Ctx, st: Stream) {
    val api = Api(st.catalog)
    val calls = mutable.ArrayBuffer[(String, Double)]()
    var rowsReturned = 0L
    private val rng = new java.util.Random(ctx.seed * 31 + 7)
    private val nRooms = ctx.in.get("n_rooms").asInt
    private val nUsers = ctx.in.get("n_users").asInt
    private val cum = {
      val w = (0 until nRooms).map(i => 1.0 / math.pow(i + 1, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    /** A room drawn with the generator's Zipf weights. */
    def hotRoom(): String = {
      val i = cum.indexWhere(_ >= rng.nextDouble())
      f"!r${if (i < 0) nRooms - 1 else i}%03d:bench.local"
    }
    def user(): String = f"@u${rng.nextInt(nUsers)}%03d:bench.local"

    private def call(route: String)(df: => DataFrame): Array[Row] = {
      ctx.attempted += 1
      val t0 = System.nanoTime()
      try {
        val rows = ctx.tracer.span(s"etl.Api.$route")(df.collect())
        calls += ((route, (System.nanoTime() - t0) / 1e6))
        rowsReturned += rows.length
        rows
      } catch {
        case e: Exception =>
          ctx.failed += 1
          System.err.println(s"api $route failed: $e")
          Array.empty[Row]
      }
    }

    /** One dashboard refresh: every route once, two keyset pages on each
      * of two hot rooms. */
    def round(): Unit = {
      val spark = ctx.spark
      call("stats")(api.stats(spark))
      call("listRooms")(api.listRooms(spark))
      (0 until 2).foreach { _ =>
        val room = hotRoom()
        val p1 = call("messagesPage")(api.messagesPage(spark, room))
        if (p1.nonEmpty) {
          val last = p1.last
          call("messagesPage")(api.messagesPage(spark, room,
            Some(last.getAs[Long]("timestamp")), 50, Some(last.getAs[String]("event_id"))))
        }
      }
      call("roomDetail")(api.roomDetail(spark, hotRoom()))
      call("userDetail")(api.userDetail(spark, user()))
      call("listUsers")(api.listUsers(spark))
      call("logsTail")(api.logsTail(spark))
      call("configSingleton")(api.configSingleton(spark))
    }
  }

  def run(ctx: Ctx): Unit = {
    val catchupEvery = ctx.in.get("maintain_every").asInt
    val liveEvery = ctx.in.get("live_maintain_every").asInt
    val t0 = System.nanoTime()
    // set-up, which is also the warm-up: the stream's first run drains its
    // history into the catalog, and every dashboard route runs once
    val st = new Stream(ctx, ctx.in.get("src_dir").asText, s"${ctx.work}/ckpt",
      s"${ctx.work}/catalog")
    val history = ctx.files("history")
    st.drain(catchupEvery)
    st.delivered ++= history.map(_.get("path").asText)
    new Dashboard(ctx, st).round()
    // the backlog that arrived while the stream was down
    val backlog = ctx.files("backlog")
    backlog.foreach { f =>
      val path = f.get("path").asText
      deliver(path, st.srcDir, Paths.get(path).getFileName.toString)
    }
    ctx.out("setup_jvm_s") = (System.nanoTime() - t0) / 1e9
    ctx.out("setup_end_epoch_ms") = System.currentTimeMillis()

    val backlogEvents = backlog.map(_.get("events").asLong).sum
    ctx.attempted += 1
    val (batches, drainS) = ctx.op(ctx.traced, "sync.catchup")(st.drain(catchupEvery))
    if (batches < 1) ctx.failed += 1
    st.delivered ++= backlog.map(_.get("path").asText)
    val storedAfterCatchup = st.storedBytes
    val historyEvents = history.map(_.get("events").asLong).sum

    // the live phase has its own window of `--seconds`
    val dash = new Dashboard(ctx, st)
    val live = ctx.files("live")
    val commits = mutable.ArrayBuffer[Double]()
    val steps = mutable.ArrayBuffer[(Double, Boolean)]()
    var liveEvents = 0L
    var k = 0
    def step(traced: Boolean): (Double, Double) = {
      ctx.attempted += 1
      val f = live(k)
      k += 1
      ctx.op(traced, "sync.live") {
        val t = System.nanoTime()
        deliver(f.get("path").asText, st.srcDir, f"live-$k%05d.jsonl")
        st.delivered += f.get("path").asText
        val v0 = st.syncVersion
        val b = st.drain(liveEvery)
        if (b != 1 || st.syncVersion <= v0) ctx.failed += 1
        val c = (System.nanoTime() - t) / 1e9
        dash.round()
        c
      }
    }
    val loop0 = System.nanoTime()
    while (k < live.size && ctx.another(loop0, k, steps.last._1)) {
      val traced = ctx.traceOp(k)
      val (commit, dt) = step(traced)
      commits += commit
      steps += ((dt, traced))
      liveEvents += live(k - 1).get("events").asLong
    }
    val tracedLive = live.take(k).zip(steps).filter(_._2._2).map(_._1.get("events").asDouble).sum
    ctx.out("catchup_s") = drainS
    ctx.out("catchup_batches") = batches
    ctx.out("catchup_events") = backlogEvents
    ctx.out("catchup_stored_bytes") = storedAfterCatchup
    ctx.out("history_events") = historyEvents
    ctx.out("commit_s") = commits.toSeq
    ctx.out("step_s") = steps.map(_._1).toSeq
    ctx.out("api_ms") = dash.calls.map(_._2).toSeq
    ctx.out("stored_bytes") = st.storedBytes
    ctx.out("events_committed") = historyEvents + backlogEvents + liveEvents

    if (ctx.traced) {
      val tr = ctx.tracer
      val drainSpans = tr.spansNamed("sync.catchup")
      val stepSpans = tr.spansNamed("sync.live")
      layerFromOps(ctx, "catchup", drainSpans, backlogEvents.toDouble)
      layerFromOps(ctx, "live", stepSpans, tracedLive)
      engineLayer(ctx, "catchup", drainSpans)
      engineLayer(ctx, "live", stepSpans)
      storageLayer(ctx, st)
      overhead(ctx, steps.toSeq)
      apiLayer(ctx, dash, stepSpans)
    }
    val post0 = System.nanoTime()
    ctx.out("replay") = replayCheck(st, Seq(live(k - 1), ctx.in.get("replay_no_state")), liveEvery)
    ctx.out("replay_s") = (System.nanoTime() - post0) / 1e9
    ctx.out("last_batch_id") = st.lastBatch
    ctx.out("catalog") = st.root
    ctx.out("delivered") = st.delivered.toSeq
    if (ctx.traced) {
      val mft = ctx.in.get("max_files_per_trigger").asInt
      ingestLayer(ctx, st, backlog.map(_.get("path").asText).grouped(mft).toSeq)
    }
    val ans0 = System.nanoTime()
    answers(ctx, st, dash)
    ctx.out("answers_s") = (System.nanoTime() - ans0) / 1e9
  }

  val RouteMetric = Map("messagesPage" -> "api.messages_page_ms", "roomDetail" -> "api.room_detail_ms",
    "listRooms" -> "api.list_rooms_ms", "listUsers" -> "api.list_users_ms",
    "userDetail" -> "api.user_detail_ms", "stats" -> "api.stats_ms",
    "logsTail" -> "api.logs_tail_ms", "configSingleton" -> "api.config_ms")

  def apiLayer(ctx: Ctx, dash: Dashboard, stepSpans: Seq[Span]): Unit = {
    val tr = ctx.tracer
    val apiSpans = stepSpans.flatMap(tr.children).filter(_.name.startsWith("etl.Api."))
    RouteMetric.foreach { case (route, m) =>
      ctx.layer(m) = median(apiSpans.filter(_.name == s"etl.Api.$route").map(_.durMs))
    }
    val qes = tr.qesUnder(apiSpans)
    val n = math.max(1, apiSpans.size).toDouble
    ctx.layer("api.plan_ms") = median(qes.map(_.planMs))
    ctx.layer("api.jobs_per_call") = tr.jobsUnder(apiSpans).size / n
    ctx.layer("api.files_read_per_call") = qes.map(_.filesRead).sum / n
    // rows returned by the traced calls: the traced share of all calls
    val tracedShare = apiSpans.size.toDouble / math.max(1, dash.calls.size)
    ctx.layer("api.rows_read_per_row_returned") =
      qes.map(_.rowsRead).sum / math.max(1.0, dash.rowsReturned * tracedShare)
  }

  /** Each route's answer on the final snapshot, plus full keyset walks,
    * for the DuckDB comparison. */
  def answers(ctx: Ctx, st: Stream, dash: Dashboard): Unit = {
    val spark = ctx.spark
    val api = dash.api
    // rooms of two Zipf ranks; their full keyset walks stay a few pages long
    val rooms = Seq("!r015:bench.local", "!r030:bench.local")
    val users = Seq("@u017:bench.local")
    ctx.out("answers") = Map(
      "stats" -> answer(api.stats(spark)),
      "listRooms" -> answer(api.listRooms(spark)),
      "listUsers" -> answer(api.listUsers(spark)),
      "logsTail" -> answer(api.logsTail(spark)),
      "configSingleton" -> answer(api.configSingleton(spark)),
      "roomDetail" -> rooms.map(r => r -> answer(api.roomDetail(spark, r))).toMap,
      "userDetail" -> users.map(u => u -> answer(api.userDetail(spark, u))).toMap,
      "pages" -> rooms.map { r =>
        val ids = mutable.ArrayBuffer[String]()
        var cursor: Option[(Long, String)] = None
        var done = false
        while (!done) {
          val page = api.messagesPage(spark, r, cursor.map(_._1), 50, cursor.map(_._2)).collect()
          ids ++= page.map(_.getAs[String]("event_id"))
          done = page.length < 50
          if (!done) cursor = Some((page.last.getAs[Long]("timestamp"), page.last.getAs[String]("event_id")))
        }
        r -> ids.toSeq
      }.toMap)
  }
}

/** The composed corpus pipeline over a generated `documents` corpus. */
object CorpusPrep {
  import Main._

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.in.get("docs_dir").asText
    val nDocs = ctx.in.get("n_docs").asLong
    val entry = SparkEntry.queries("pipe_corpus_end2end")
    val t0 = System.nanoTime()
    // warm-up over the same corpus: a warm-up over a smaller corpus left
    // the first timed run about 10 % slower than the next
    (0 until 2).foreach(_ => entry(spark, dir).collect())
    ctx.out("setup_jvm_s") = (System.nanoTime() - t0) / 1e9
    ctx.out("setup_end_epoch_ms") = System.currentTimeMillis()
    val samples = mutable.ArrayBuffer[(Double, Boolean)]()
    var packed: DataFrame = null
    val loop0 = System.nanoTime()
    var k = 0
    def runOnce(traced: Boolean): Double = {
      ctx.attempted += 1
      val (rows, dt) = ctx.op(traced, "corpus_prep.run") {
        val df = entry(spark, dir)
        (df.collect(), df.schema)
      }
      if (rows._1.isEmpty) ctx.failed += 1
      // the rows this run collected, kept for the oracle check
      packed = spark.createDataFrame(rows._1.toSeq.asJava, rows._2)
      dt
    }
    while (ctx.another(loop0, k, samples.last._1)) {
      val traced = ctx.traceOp(k)
      samples += ((runOnce(traced), traced))
      k += 1
    }
    val opSpans = ctx.tracer.spansNamed("corpus_prep.run")
    ctx.out("op_s") = samples.map(_._1).toSeq
    ctx.out("items_per_op") = nDocs
    ctx.out("packed") = answer(packed)
    ctx.out("oracle_sql") = SparkEntry.oracleSql("pipe_corpus_end2end")
    if (ctx.traced) {
      Sync.engineLayer(ctx, "corpus", opSpans)
      Sync.overhead(ctx, samples.toSeq)
      stages(ctx, dir)
    }
  }

  /** Each corpus stage's public entry, materialized on its own. */
  def stages(ctx: Ctx, dir: String): Unit = {
    val s = ctx.spark
    val tr = ctx.tracer
    import s.implicits._
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): Double = {
      tr.span(name)(body)
      tr.spansNamed(name).last.durMs / 1000
    }
    tr.attach()
    val L = ctx.layer
    L("corpus.gate_s") = timed("ext.TextStats.txt_gopher_gate")(noop(TextStats.defs("txt_gopher_gate").build(s, dir)))
    L("corpus.decontam_s") = timed("ext.TextStats.txt_decontaminate")(noop(TextStats.defs("txt_decontaminate").build(s, dir)))
    var pairs: DataFrame = null
    L("corpus.pairs_s") = timed("ext.Dedup.minhashPairs") { pairs = Dedup.minhashPairs(s, dir).localCheckpoint() }
    L("corpus.pairs_verified") = pairs.count().toDouble
    val cand = tr.span("ext.Dedup.minhashBands") {
      val b = Dedup.minhashBands(s, dir)
      b.select($"doc_id".as("a"), $"band", $"h").join(b.select($"doc_id".as("b"), $"band", $"h"), Seq("band", "h"))
        .filter($"a" < $"b").select("a", "b").distinct().count()
    }
    L("corpus.pair_candidates") = cand.toDouble
    L("corpus.pair_yield") = if (cand > 0) L("corpus.pairs_verified") / cand else 0.0
    val nodes = graft.Tables.documents(s, dir).select($"doc_id".as("id"))
    L("corpus.components_s") = timed("ext.Cluster.connectedComponents") {
      noop(Cluster.connectedComponents(nodes,
        pairs.filter($"jaccard" >= Pipe.DedupTau).select($"a_id".as("src"), $"b_id".as("dst"))))
    }
    L("corpus.pack_s") = timed("ext.Corpus.txt_pack_chunks")(noop(Corpus.defs("txt_pack_chunks").build(s, dir)))
    val funnel = tr.span("ext.Pipe.pipe_corpus_funnel")(Pipe.defs("pipe_corpus_funnel").build(s, dir).collect().head)
    tr.detach()
    // one label-sum action per round, plus the initial one
    val cc = tr.spansNamed("ext.Cluster.connectedComponents").last
    L("corpus.cc_rounds") = tr.qes.count(q => q.span == cc.id && q.func == "head") - 1.0
    Seq("gate", "decon", "keeper", "mixed").foreach(k =>
      L(s"corpus.funnel_$k") = funnel.getAs[Long](s"n_$k").toDouble)
  }
}
