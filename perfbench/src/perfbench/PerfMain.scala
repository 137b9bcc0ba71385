package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, max, when}
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.{TransportJob, TransportorApp}
import graft.perfbench.ReleaseInputs
import graft.plans.{IncrementalRelease, PlanConfig, ReleaseRun, RowUdf, TransportPlan}
import graft.sources.{DedupIndexStore, JdbcIO, JdbcPartitioning, TableIO}
import graft.streaming.StreamOps
import scala.jdk.CollectionConverters._

/** Process-wide clock of the one job a benchmark process runs: the end
  * of set-up (the first call into the program), and the time and CPU
  * time of the last output the job made durable. */
object Clock {
  @volatile var launchedNs = 0L           // epoch ns the JVM was launched
  @volatile var setupS = -1.0
  @volatile var t0, c0 = -1L              // job start: nanoTime, process CPU ns
  @volatile var lastOutNs, lastOutCpu = -1L
  @volatile var persistedLeft = 0

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Set-up ends at the first call into the program. */
  def start(): Unit = synchronized {
    if (t0 < 0) {
      setupS = (epochNs() - launchedNs) / 1e9
      t0 = System.nanoTime()
      c0 = cpuNs()
    }
  }

  def outputDone(spark: SparkSession): Unit = synchronized {
    lastOutNs = System.nanoTime()
    lastOutCpu = cpuNs()
    persistedLeft = spark.sparkContext.getPersistentRDDs.size
  }
}

/** The migration as a `TransportJob` the command-line entry point
  * (`graft.TransportorApp --class=perfbench.MigrateJob`) runs: the JSON
  * plan plus the one spec JSON cannot carry, a Scala closure over the
  * whole source row (RowUdf). Its `io` marks the end of set-up. */
object MigrateJob extends TransportJob {
  def plan: TransportPlan = PerfMain.plan(PerfMain.arg("plan"))
  override def io(spark: SparkSession, args: Map[String, String]): TableIO =
    PerfMain.io(spark, upsert = false, super.io(spark, args))
}

/** Second pass of the JDBC migration, run by the same entry point: the
  * changed orders, upserted by key into the already-written target. */
object UpsertJob extends TransportJob {
  def plan: TransportPlan = {
    val full = PerfMain.plan(PerfMain.arg("plan"))
    TransportPlan.of("orders_out" ->
      full.byKey("orders_out").copy(originalTable = Some("orders_delta"), order = None))
  }
  override def preSeeded: Set[String] = Set("customers")
  override def io(spark: SparkSession, args: Map[String, String]): TableIO =
    PerfMain.io(spark, upsert = true, sys.error("the upsert pass writes over JDBC only"))
}

/** One benchmark process = one user job. What it measured goes to
  * `--result` as JSON, also when the job fails.
  *
  * {{{
  * PerfMain --workload migrate|migrate_jdbc|release_stream --data DIR
  *   --work DIR --cores N --trace 0|1 --launched-ns EPOCH_NS --result FILE
  *   [--plan plan.json --input-rows N]                  # migrations
  *   [--src-db DIR --part-upper N --dump DIR]           # migrate_jdbc
  *   [--staged DIR --batches K]                         # release_stream
  * }}}
  *
  * A migration runs through `graft.TransportorApp.main`, as a
  * command-line user runs it; `migrate_jdbc` then runs the upsert pass
  * through it again. The release has no command-line entry point past
  * day 0, so it runs here, in one session built the way
  * `graft.ReleaseApp` builds one. With `--trace 1` the job runs under
  * the listeners of [[Tracer]] with spans around each call into a
  * layer. */
object PerfMain {
  @volatile private var a: Map[String, String] = Map.empty
  @volatile private var tracer: Option[Tracer] = None
  @volatile private var upsertStart = -1L

  def arg(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
  private def jdbc = a("workload") == "migrate_jdbc"
  private def span[T](name: String)(b: => T): T = tracer.fold(b)(_.span(name)(b))

  def main(argv: Array[String]): Unit = {
    a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Clock.launchedNs = arg("launched-ns").toLong
    tracer = if (arg("trace") == "1") Some(new Tracer) else None
    val res = new java.util.LinkedHashMap[String, Any]()
    try run(res)
    catch { case e: Throwable =>
      res.put("error", e.toString)
      res.put("failed", res.get("attempted"))
    } finally
      Files.write(Paths.get(arg("result")),
        new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(res))
  }

  // ------------------------------------------------------------ migrations

  def plan(planPath: String): TransportPlan = {
    val p = PlanConfig.fromJson(new String(Files.readAllBytes(Paths.get(planPath)), UTF_8))
    TransportPlan(p.tables.map {
      case ("customers", m) => "customers" -> m.copy(columns = m.columns :+
        RowUdf("name_len", (r: Row) => r.getAs[String]("c_name").length, IntegerType))
      case other => other
    })
  }

  /** The job's TableIO, opened by the entry point once its session is
    * up: the end of set-up, and where the tracer starts listening. */
  def io(spark: SparkSession, upsert: Boolean, parquet: => TableIO): TableIO = {
    Clock.start()
    tracer.foreach(_.attach(spark))
    if (upsert) upsertStart = System.nanoTime()
    val base =
      if (!jdbc) parquet
      else new JdbcIO(spark, derbyUrl(arg("src-db")), derbyUrl(arg("tgt-db"), create = true),
        partitioning = Map("lineitem" ->
          JdbcPartitioning("l_orderkey", 1L, arg("part-upper").toLong, arg("cores").toInt)),
        upsertKeys = if (upsert) Map("orders_out" -> Seq("order_id")) else Map.empty)
    new TimedIO(base, spark, tracer)
  }

  private def derbyUrl(path: String, create: Boolean = false) =
    s"jdbc:derby:$path" + (if (create) ";create=true" else "")

  private def shutdownDerby(path: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:$path;shutdown=true").close()
    catch { // 08006: shut down; XJ004: not booted / not created yet
      case e: SQLException if Set("08006", "XJ004").contains(e.getSQLState) => ()
    }

  /** Physical tables a plan writes (aliased entries share one). */
  private def targets(p: TransportPlan): Seq[String] = p.keys.map(p.targetName).distinct

  /** Copy the Derby target to parquet for the output checks (after the
    * measurement, in a session of its own). */
  private def dumpDerby(tables: Seq[String], db: String, out: String): Unit = {
    val spark = SparkSession.builder().master(s"local[${arg("cores")}]").getOrCreate()
    try tables.foreach { t =>
      spark.read.jdbc(derbyUrl(db), t, new java.util.Properties())
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    } finally spark.stop()
    shutdownDerby(db)
  }

  private def migrate(res: java.util.Map[String, Any]): String = {
    val cli = Array(s"--cpus=${arg("cores")}")
    val out = if (jdbc) arg("tgt-db") else arg("target-dir")
    val tables = targets(plan(arg("plan")))
    val ops = tables.size + (if (jdbc) 1 else 0)
    res.put("attempted", ops)
    span("cli.transport")(TransportorApp.main(cli ++ Array("--class=perfbench.MigrateJob",
      s"--original-dir=${arg("data")}", s"--target-dir=$out")))
    if (jdbc) {
      span("cli.upsert")(TransportorApp.main(cli :+ "--class=perfbench.UpsertJob"))
      res.put("upsert_s", (Clock.lastOutNs - upsertStart) / 1e9)
      shutdownDerby(out)
    }
    res.put("failed", 0)
    out
  }

  // ------------------------------------------------------------ release

  private val BatchSchema = StructType.fromDDL("doc_id BIGINT, source STRING, text STRING")

  /** The stores the maintenance step audits: the corpus minhash index
    * and the packed state table, as (directory, corpus-sized child, id
    * column). */
  private val Audited = Seq(("corpus_minhash", "bands", "id"), ("packed", "rows", "doc_id"))
  /** Every doc-keyed store a `forget` must reach, for the output checks. */
  private val Forgettable = Seq(
    ("corpus_minhash", "bands", "id"), ("holdout_minhash", "bands", "id"),
    ("conv_minhash", "bands", "id"), ("holdout_ann", "assigned", "id")) ++
    Seq("corpus_texts", "holdout_texts", "conv_texts", "nd_reps", "conv_reps",
      "packed", "ledger").map(t => (t, "rows", "doc_id"))

  /** The day-0 crawl's HTML wrapper (`ReleaseInputs.raw`), cut around
    * one document's text, so the streamed batches are wrapped exactly
    * as day 0 is and a re-crawl is byte-identical to its original. */
  private def wrapper(spark: SparkSession, data: String): (String, String) = {
    val r = ReleaseInputs.raw(spark, data).filter(col("doc_id") === 1L)
      .join(spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text"), "doc_id")
      .select("raw", "text").head()
    val (raw, text) = (r.getString(0), r.getString(1))
    val at = raw.indexOf(text)
    require(at >= 0, "the day-0 raw row does not contain its document text")
    (raw.substring(0, at), raw.substring(at + text.length))
  }

  private def release(res: java.util.Map[String, Any]): String = {
    val cores = arg("cores")
    val (data, work) = (arg("data"), arg("work"))
    val (day0, state, art) = (s"$work/day0", s"$work/state", s"$work/artifact.parquet")
    val (staged, watch) = (arg("staged"), s"$work/watch")
    val k = arg("batches").toInt
    res.put("attempted", 5 + k) // day 0, K batches, forget, maintenance, artifact
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .appName("graft-release-run")
      .config("spark.sql.shuffle.partitions", cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      tracer.foreach(_.attach(spark))
      Clock.start()
      val (pre, post) = wrapper(spark, data)
      val emb = spark.read.parquet(s"$data/embeddings.parquet")
      lazy val merges = ReleaseInputs.merges(spark, data)
      val transcripts = ReleaseInputs.transcriptsOf(spark) _
      def now = System.nanoTime()

      val d0 = now
      span("release_run.run")(ReleaseRun.run(spark, ReleaseInputs.raw(spark, data), emb,
        transcripts, () => merges, day0).get)
      span("incremental.bootstrap")(IncrementalRelease.bootstrap(spark, day0, state))
      res.put("day0_s", (now - d0) / 1e9)

      // closed loop: one batch file becomes visible, wait for its marker
      Files.createDirectories(Paths.get(watch))
      val batches = spark.readStream.schema(BatchSchema).option("maxFilesPerTrigger", "1")
        .parquet(watch)
        .select(col("doc_id"), col("source"), concat(lit(pre), col("text"), lit(post),
          when(col("doc_id") % 23 === 0, lit("�")).otherwise(lit(""))).as("raw"))
      val q = StreamOps.releaseStream(batches, emb, transcripts, () => merges, state,
        s"$work/checkpoint")
      val latency = try (0 until k).map { b =>
        val name = f"batch-$b%03d.parquet"
        val marker = new File(s"$state/_released/batch=$b")
        Files.move(Paths.get(s"$staged/$name"), Paths.get(s"$watch/$name"),
          StandardCopyOption.ATOMIC_MOVE)
        val v = now
        while (!marker.exists()) {
          q.exception.foreach(e => throw e)
          Thread.sleep(2)
        }
        val done = now
        tracer.foreach(_.record(s"stream.batch:$b", v, done))
        (done - v) / 1e9
      } finally q.stop()
      res.put("delta_s", latency.asJava)

      val f0 = now
      span("incremental.forget")(IncrementalRelease.forget(spark, state,
        spark.read.parquet(s"$data/dead.parquet")))
      res.put("forget_s", (now - f0) / 1e9)

      // maintenance: compact what the audit flags (a segment per batch
      // piles up past `maxSegments = K`)
      val audits = span("stores.audit")(Audited.map { case (t, child, id) =>
        t -> DedupIndexStore.maintenanceAudit(spark, s"$state/$t", child,
          maxSegments = k, idCol = id).head()
      })
      res.put("stores_segments", audits.map(_._2.getAs[Long]("n_segments")).sum)
      val (live, tomb) = (audits.map(_._2.getAs[Long]("n_docs_live")).sum,
        audits.map(_._2.getAs[Long]("n_docs_tombstoned")).sum)
      res.put("stores_tombstone_ppm", if (live + tomb == 0) 0L else tomb * 1000000L / (live + tomb))
      val due = audits.collect { case (t, r) if r.getAs[Boolean]("compaction_due") => t }
      res.put("stores_compacted", due.asJava)
      span("stores.compact")(due.foreach { t =>
        if (t.endsWith("_minhash")) DedupIndexStore.compactMinhash(spark, s"$state/$t")
        else IncrementalRelease.compactState(spark, state, t)
      })

      span("incremental.artifact")(
        IncrementalRelease.artifact(spark, state).write.parquet(art))
      Clock.outputDone(spark)
      tracer.foreach(_.detach(spark))
      res.put("failed", 0)

      // after the measurement: what the checks need from the stores
      val dead = spark.read.parquet(s"$data/dead.parquet").select("doc_id")
      val left = Forgettable.map { case (t, child, id) =>
        ReleaseInputs.liveIds(spark, s"$state/$t", child, id).select(lit(t).as("store"), col("doc_id"))
      }.reduce(_ unionByName _).join(dead, "doc_id").groupBy("store").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      res.put("dead_left", Forgettable.map { case (t, _, _) => t -> left.getOrElse(t, 0L) }
        .toMap.asJava)
      res.put("id_watermark", ReleaseInputs.liveIds(spark, s"$state/id_watermark", "rows",
        "max_id").agg(max("doc_id")).head().getLong(0))
      res.put("markers", (0 until k).count(b => new File(s"$state/_released/batch=$b").exists))
      res.put("stores_files", filesUnder(new File(state)))
      res.put("stores_bytes", bytesUnder(new File(state)))
    } finally spark.stop()
    res.put("artifact", art)
    state
  }

  // ------------------------------------------------------------ run

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (f.exists()) f.length() else 0L

  private def filesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(filesUnder).sum
    else if (f.exists()) 1L else 0L

  private def run(res: java.util.Map[String, Any]): Unit = {
    res.put("attempted", 1)
    res.put("failed", 1)
    val workload = arg("workload")
    val out = workload match {
      case "migrate" | "migrate_jdbc" => migrate(res)
      case "release_stream" => release(res)
      case w => sys.error(s"unknown workload '$w'")
    }
    res.put("setup_s", Clock.setupS)
    res.put("job_s", (Clock.lastOutNs - Clock.t0) / 1e9)
    res.put("cpu_s", (Clock.lastOutCpu - Clock.c0) / 1e9)
    val outBytes = bytesUnder(new File(out)) +
      Option(res.get("artifact")).map(p => bytesUnder(new File(p.toString))).getOrElse(0L)
    res.put("out_bytes", outBytes)
    res.put("rss_peak_mb", vmHwmMb())
    res.put("jvm", System.getProperty("java.runtime.version"))
    res.put("spark", org.apache.spark.SPARK_VERSION)
    tracer.foreach { t =>
      res.put("layers", Layers.of(t, workload, arg("cores").toInt, outBytes,
        a.get("input-rows").map(_.toDouble).getOrElse(0.0), upsertStart, res).asJava)
      res.put("spans", t.spans.map { s =>
        Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.start, "end_ns" -> s.end).asJava
      }.asJava)
    }
    // after the measurement: the checks read the Derby target as parquet
    if (workload == "migrate_jdbc") dumpDerby(targets(plan(arg("plan"))), out, arg("dump"))
  }
}
