package tickbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tick.{Rollup, TickHttpServer, TickQuery, TickStore}

/** One request as the generator wrote it. */
final case class Req(key: String, kind: String, method: String, path: String, body: String)

/** One completed client operation. */
final case class Op(client: Int, key: String, kind: String, startNs: Long, endNs: Long,
    status: Int, hash: String, acked: Int)

/** The benchmark's JVM side: sets up the program, drives one workload
  * for a fixed time, and writes what it saw to `<out>/result.json`.
  * Correctness is judged afterwards, outside the JVM, against DuckDB.
  *
  * Usage: TickBench <workload> <seconds> <trace 0|1> <inDir> <outDir> <cpus> <seed> <launchEpochMs>
  */
object TickBench {
  val Db = "bench"
  val SetupReps = 3
  val WarmupPerClient = 4

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, in, out, cpus, seed, launchMs) = args
    val res = mapper.createObjectNode()
    res.put("workload", workload)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("tickbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    res.put("session_s", (System.currentTimeMillis() - launchMs.toLong) / 1e3)
    val layers = if (trace == "1") {
      val l = new Layers
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    } else None
    val run = new Run(spark, res, layers, in, out, seconds.toInt, seed.toLong, launchMs.toLong)
    val code =
      try {
        workload match {
          case "tick_read" => run.tick(writer = false, readers = cpus.toInt)
          case "tick_mixed" => run.tick(writer = true, readers = cpus.toInt - 1)
          case "analytics" => run.analytics()
          case other => throw new IllegalArgumentException(s"unknown workload: $other")
        }
        run.env()
        Files.writeString(Paths.get(out, "result.json"), mapper.writeValueAsString(res))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    spark.stop()
    // TickHttpServer.stop() leaves its 4-thread non-daemon executor
    // running, which keeps a JVM alive after main returns; end it here.
    System.exit(code)
  }
}

final class Run(spark: SparkSession, res: ObjectNode, layers: Option[Layers],
    in: String, out: String, seconds: Int, seed: Long, launchMs: Long) {
  import TickBench.Db

  private val marks = res.putObject("marks")
  /** Seconds since launch at a phase boundary, for the run record. */
  def mark(phase: String): Unit = marks.put(phase, (System.currentTimeMillis() - launchMs) / 1e3)

  private val mapper = new ObjectMapper()
  private val gcAtStart = gcMs()
  private var windowMs = (0L, 0L)

  private def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def timedS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def putArray(key: String, xs: Seq[Double]): Unit = {
    val a = res.putArray(key); xs.foreach(x => a.add(x))
  }

  // ---- tick workloads: the HTTP server over a preloaded store ----

  private def preload(root: String): TickStore = {
    val store = new TickStore(root)
    store.createDb(spark, Db)
    val pts = spark.read.parquet(s"$in/preload.parquet")
      .select(col("index"), col("ts_ns"),
        map(lit("value"), col("value"), lit("user"), col("user")).as("value"))
    store.ingest(spark, Db, pts)
    Rollup.materialize(spark, store, Db)
    store
  }

  private def readReqs(n: JsonNode): IndexedSeq[Req] = n.elements().asScala.map { r =>
    Req(r.get("key").asText, r.get("kind").asText, r.get("method").asText,
      r.get("path").asText, r.get("body").asText)
  }.toIndexedSeq

  def tick(writer: Boolean, readers: Int): Unit = {
    var store: TickStore = null
    val reps = (0 until TickBench.SetupReps).map { i =>
      timedS { store = preload(s"$out/store-$i") }
    }
    putArray("setup_reps_s", reps)
    res.put("setup_rep_s", median(reps))
    mark("setup_done")

    val spec = mapper.readTree(Files.readString(Paths.get(in, "requests.json")))
    val static = readReqs(spec.get("static"))
    val recent = spec.get("recent").elements().asScala.map(readReqs).toIndexedSeq
    val batches = spec.get("batches").elements().asScala.map(_.asText).toIndexedSeq
    val batchPoints = spec.get("batch_points").elements().asScala.map(_.asInt).toIndexedSeq

    val server = new TickHttpServer(spark, store, 0)
    val base = s"http://localhost:${server.start()}"
    val acked = new AtomicInteger(0)
    val bodies = new ConcurrentHashMap[String, String]()
    val ops = new ConcurrentLinkedQueue[Op]()
    val posts = new ConcurrentLinkedQueue[Op]()

    def send(http: HttpClient, r: Req): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(base + r.path))
      val req =
        if (r.method == "GET") b.GET().build()
        else b.POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def call(http: HttpClient, client: Int, r: Req, sink: ConcurrentLinkedQueue[Op],
        ack: Int): Unit = {
      val t0 = System.nanoTime()
      val (status, body) =
        try send(http, r) catch { case e: Throwable => (-1, String.valueOf(e)) }
      val t1 = System.nanoTime()
      val hash = Run.sha1(body)
      bodies.putIfAbsent(hash, body)
      sink.add(Op(client, r.key, r.kind, t0, t1, status, hash, ack))
    }
    def client() = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

    // Each client walks the read classes in a fixed 40/40/20 pattern and
    // draws a seeded request of that class, so the class mix of a run does
    // not depend on chance. Every other read of a mixed reader covers the
    // last ingested hours, once there are any.
    val pattern = Seq("rollup", "raw", "rollup", "raw", "get")
    val staticByKind = static.groupBy(_.kind)
    def pick(rng: java.util.Random, client: Int, i: Int): (Req, Int) = {
      val kind = pattern((client + i) % pattern.size)
      val a = acked.get()
      val pool =
        if (writer && a > 0 && i % 2 == 1) recent(math.min(a, recent.size) - 1).filter(_.kind == kind)
        else staticByKind(kind)
      (pool(rng.nextInt(pool.size)), a)
    }

    // warm-up, untimed: a few reads per client, and the first batch
    val warm = new ConcurrentLinkedQueue[Op]()
    val warmers = (0 until readers).map { c =>
      new Thread(() => {
        val http = client(); val rng = new java.util.Random(seed * 7919 + 1000 + c)
        (0 until TickBench.WarmupPerClient).foreach(_ =>
          call(http, c, static(rng.nextInt(static.size)), warm, 0))
      })
    }
    val warmWriter = if (writer) Seq(new Thread(() => {
      call(client(), -1, Req("b0", "post", "POST", s"/$Db", batches(0)), warm, 0)
      if (warm.asScala.exists(o => o.kind == "post" && o.status == 200)) acked.set(1)
    })) else Nil
    (warmers ++ warmWriter).foreach(_.start()); (warmers ++ warmWriter).foreach(_.join())
    mark("warmup_done")

    val start = new CountDownLatch(1)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val fsBefore = fsBytesRead()
    val cpu0 = cpuMs()
    val readerThreads = (0 until readers).map { c =>
      new Thread(() => {
        val http = client(); val rng = new java.util.Random(seed * 7919 + c)
        start.await()
        var i = 0
        while (System.nanoTime() < deadline) {
          val (r, a) = pick(rng, c, i)
          call(http, c, r, ops, a)
          i += 1
        }
      })
    }
    val writerThread = if (writer) Seq(new Thread(() => {
      val http = client()
      start.await()
      var b = acked.get()
      while (System.nanoTime() < deadline && b < batches.size) {
        call(http, -1, Req(s"b$b", "post", "POST", s"/$Db", batches(b)), posts, b)
        if (posts.asScala.last.status == 200) acked.set(b + 1)
        b += 1
      }
    })) else Nil
    (readerThreads ++ writerThread).foreach(_.start())
    start.countDown()
    // the read window ends with the last read; the writer then finishes
    // the POST it is in, which the ingest figures and checks count
    readerThreads.foreach(_.join())
    val tEnd = System.nanoTime()
    windowMs = (t0Ms, System.currentTimeMillis())
    val fsAfter = fsBytesRead()
    res.put("window_cpu_ms", cpuMs() - cpu0)
    writerThread.foreach(_.join())
    val writerEndMs = System.currentTimeMillis()
    server.stop()
    mark("window_done")

    res.put("window_s", (tEnd - t0) / 1e9)
    res.put("acked_batches", acked.get())
    val opsArr = res.putArray("ops")
    def opJson(o: Op) = {
      val n = mapper.createObjectNode()
      n.put("client", o.client); n.put("key", o.key); n.put("kind", o.kind)
      n.put("start_ms", (o.startNs - t0) / 1e6); n.put("lat_ms", (o.endNs - o.startNs) / 1e6)
      n.put("status", o.status); n.put("hash", o.hash); n.put("acked", o.acked)
      n
    }
    ops.asScala.toSeq.sortBy(_.startNs).foreach(o => opsArr.add(opJson(o)))
    val postArr = res.putArray("posts")
    posts.asScala.foreach(o => postArr.add(opJson(o)))
    val bodyObj = res.putObject("bodies")
    bodies.asScala.foreach { case (h, b) => bodyObj.put(h, b) }

    val storeBytes = dirBytes(s"${store.root}/$Db")
    res.put("store_bytes", storeBytes)
    res.put("store_points", store.read(spark, Db).count())

    if (writer) {
      // every acknowledged point, as the store now returns it
      store.read(spark, Db)
        .select(col("index"), col("ts_ns"),
          element_at(col("value"), "value").as("value"),
          element_at(col("value"), "user").as("user"))
        .coalesce(1).write.parquet(s"$out/final_points")
      rollupVsRaw(store, spec.get("final_checks"), acked.get())
    }

    mark("checks_done")
    layers.foreach { l =>
      l.settle()
      val queryResp = ops.asScala.filter(o => o.kind != "get" && o.status == 200)
      val rowsReturned = queryResp.toSeq.map(o => mapper.readTree(bodies.get(o.hash)).size().toLong).sum +
        ops.asScala.count(o => o.kind == "get" && o.status == 200)
      tickLayers(l, ops.asScala.toSeq, posts.asScala.toSeq, l.jobsIn(t0Ms, writerEndMs),
        batchPoints.slice(1, acked.get()).sum, rowsReturned, fsAfter - fsBefore, store)
      val wall = (ns: Long) => t0Ms + (ns - t0) / 1e6
      writeSpans(l, (ops.asScala ++ posts.asScala).toSeq.sortBy(_.startNs).zipWithIndex.map {
        case (o, i) => span("request", s"r$i", o.kind, None, wall(o.startNs), wall(o.endNs))
      })
    }
  }

  /** Rollup-routed answers over the ingested hours must equal the raw
    * path's exact answers (decimal sums on both sides).
    */
  private def rollupVsRaw(store: TickStore, checks: JsonNode, acked: Int): Unit = {
    var checked, mismatched, empty = 0
    checks.elements().asScala.take(acked).foreach { perBatch =>
      perBatch.elements().asScala.foreach { j =>
        val q = TickQuery.fromJson(j.asText)
        val routed = store.query(spark, Db, q).collect().toSeq.map(_.toSeq)
        val raw = store.query(spark, Db, q, exact = true, useRollups = false).collect().toSeq.map(_.toSeq)
        checked += 1
        if (routed.isEmpty) empty += 1
        if (routed != raw) {
          mismatched += 1
          System.err.println(s"[tickbench] rollup != raw for ${j.asText}: $routed vs $raw")
        }
      }
    }
    val n = res.putObject("rollup_vs_raw")
    n.put("checked", checked); n.put("mismatched", mismatched); n.put("empty", empty)
  }

  private def fsBytesRead(): Long = {
    val it = FileSystem.getGlobalStorageStatistics.iterator()
    var n = 0L
    while (it.hasNext) {
      val st = it.next()
      val ls = st.getLongStatistics
      while (ls.hasNext) {
        val x = ls.next()
        if (x.getName == "bytesRead") n += x.getValue
      }
    }
    n
  }

  private def dirBytes(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith(".") && !f.getPath.getName.startsWith("_")) n += f.getLen
    }
    n
  }

  private def tickLayers(l: Layers, ops: Seq[Op], posts: Seq[Op], postJobs: Seq[JobSpan],
      postedPoints: Long, rowsReturned: Long, fsReads: Long, store: TickStore): Unit = {
    val js = l.jobsIn(windowMs._1, windowMs._2)
    val m = res.putObject("layers")
    def count(kind: String) = ops.count(_.kind == kind).toDouble
    val (nRollup, nRaw, nGet, nPost) = (count("rollup"), count("raw"), count("get"), posts.size.toDouble)
    val nReq = ops.size + posts.size
    def per(x: Double, n: Double) = if (n > 0) x / n else 0.0
    def layer(name: String) = js.filter(_.layer == name)
    // every timed POST ran to its end, so post work is taken up to the writer's end
    def postLayer(name: String) = postJobs.filter(_.layer == name)
    def ms(j: Seq[JobSpan]) = j.filter(_.end >= 0).map(x => x.end - x.start).sum.toDouble
    // query jobs are rendered from TickApi.query; the scan each
    // execution read says which path answered it
    val execs = l.execs.asScala
    // a `_query` is one toLocalIterator execution whose scan names the
    // path that answered it; the jobs that then fetch its result
    // partitions run after the execution scope and carry no id, so they
    // are counted apart, by their TickApi call site
    def queryJobs(part: String) = js.count(j => j.layer == "api.query" &&
      Option(l.sqlStarts.get(j.execId)).exists(_.plan.contains(part)))
    m.put("api.fetch_jobs_per_query", per(layer("api.query").count(_.execId < 0), nRollup + nRaw))
    val routedExecs = execs.values.filter(e => e.end >= windowMs._1 && e.end <= windowMs._2 + 5000 &&
      e.func == "toLocalIterator")
    m.put("tickstore.jobs_per_post", per(postLayer("tickstore.post").size, nPost))
    m.put("tickstore.job_ms_per_post", per(ms(postLayer("tickstore.post")), nPost))
    m.put("tickstore.bytes_written_per_point", per(l.totals(postLayer("tickstore.post")).outputBytes, postedPoints))
    m.put("tickstore.jobs_per_query", per(queryJobs("/points"), nRaw))
    m.put("tickstore.jobs_per_get", per(layer("tickstore.get").size, nGet))
    m.put("tickstore.fs_bytes_read_per_req", per(fsReads, nReq))
    m.put("tickstore.files_per_partition", filesPerPartition(store))
    m.put("rollup.jobs_per_post", per(postLayer("rollup.post").size, nPost))
    m.put("rollup.job_ms_per_post", per(ms(postLayer("rollup.post")), nPost))
    m.put("rollup.bytes_written_per_point", per(l.totals(postLayer("rollup.post")).outputBytes, postedPoints))
    m.put("rollup.jobs_per_query", per(queryJobs("/rollup/"), nRollup))
    m.put("rollup.inference_ms_per_query", per(ms(layer("rollup.read")), nRollup))
    m.put("rollup.routed_share", per(routedExecs.count(_.scans.exists(_.contains("/rollup/"))), nRollup))
    catalyst(m, routedExecs.toSeq, routedExecs.size)
    exec(m, l, js, nReq, rowsReturned)
    m.put("tables.inference_jobs_per_lap", 0.0)
    m.put("tables.inference_ms_per_lap", 0.0)
  }

  /** Client spans given by the caller, then the Spark executions, jobs
    * and stages the listeners saw, one JSON object per line. A job's
    * parent is its SQL execution, a stage's parent its job.
    */
  private def writeSpans(l: Layers, client: Seq[ObjectNode]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(out, "spans.jsonl"))
    def line(n: ObjectNode): Unit = { w.write(mapper.writeValueAsString(n)); w.newLine() }
    client.foreach(line)
    l.execs.values.asScala.foreach { e =>
      val n = mapper.createObjectNode()
      n.put("span", "execution"); n.put("id", s"e${e.id}"); n.put("name", e.func)
      n.put("end_ms", e.end); n.put("analysis_ms", e.analysisMs)
      n.put("optimization_ms", e.optimizationMs); n.put("planning_ms", e.planningMs)
      val a = n.putArray("scans"); e.scans.foreach(a.add)
      line(n)
    }
    l.jobs.values.asScala.foreach { j =>
      val n = mapper.createObjectNode()
      n.put("span", "job"); n.put("id", s"j${j.id}"); n.put("name", j.layer)
      if (j.execId >= 0) n.put("parent", s"e${j.execId}")
      n.put("start_ms", j.start); n.put("end_ms", j.end)
      line(n)
    }
    l.stageSubmit.asScala.foreach { case (st, t) =>
      val n = mapper.createObjectNode()
      n.put("span", "stage"); n.put("id", s"s$st")
      Option(l.stageJob.get(st)).foreach(j => n.put("parent", s"j$j"))
      n.put("start_ms", t); n.put("end_ms", Option(l.stageEnd.get(st)).map(_.longValue).getOrElse(-1L))
      Option(l.stageTotals.get(st)).foreach(x => n.put("tasks", x.tasks))
      line(n)
    }
    w.close()
  }

  private def span(kind: String, id: String, name: String, parent: Option[String],
      startMs: Double, endMs: Double): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("span", kind); n.put("id", id); n.put("name", name)
    parent.foreach(n.put("parent", _))
    n.put("start_ms", startMs); n.put("end_ms", endMs)
    n
  }

  private def catalyst(m: ObjectNode, es: Seq[ExecSpan], n: Double): Unit = {
    def per(x: Double) = if (n > 0) x / n else 0.0
    m.put("catalyst.analysis_ms_per_query", per(es.map(_.analysisMs).sum))
    m.put("catalyst.optimization_ms_per_query", per(es.map(_.optimizationMs).sum))
    m.put("catalyst.planning_ms_per_query", per(es.map(_.planningMs).sum))
  }

  private def exec(m: ObjectNode, l: Layers, js: Seq[JobSpan], n: Double, rows: Long): Unit = {
    def per(x: Double) = if (n > 0) x / n else 0.0
    val t = l.totals(js)
    m.put("exec.jobs_per_req", per(js.size))
    m.put("exec.stages_per_req", per(l.stagesRun(js)))
    m.put("exec.tasks_per_req", per(t.tasks))
    m.put("exec.task_cpu_ms_per_req", per(t.cpuNs / 1e6))
    m.put("exec.task_run_ms_per_req", per(t.runMs))
    m.put("exec.scheduler_wait_ms_per_req", per(t.waitMs))
    m.put("exec.gc_ms_per_req", per(t.gcMs))
    m.put("exec.shuffle_write_bytes_per_req", per(t.shuffleWriteBytes))
    m.put("exec.rows_read_per_row_returned", if (rows > 0) t.recordsRead.toDouble / rows else 0.0)
    m.put("trace.listener_ms_per_req", per(l.handlerNs.get / 1e6))
  }

  private def filesPerPartition(store: TickStore): Double = {
    val p = new Path(s"${store.root}/$Db/points")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val perDir = scala.collection.mutable.Map.empty[String, Int]
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) perDir(f.getParent.toString) = perDir.getOrElse(f.getParent.toString, 0) + 1
    }
    if (perDir.isEmpty) 0.0 else perDir.values.sum.toDouble / perDir.size
  }

  // ---- analytics: a fixed slice of the query library ----

  def analytics(): Unit = {
    val names = Files.readString(Paths.get(in, "queries.txt")).split("\\s+").filter(_.nonEmpty).toSeq
    val all = graft.SparkEntry.queries
    val setups = graft.SparkEntry.benchSetups
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
    // the query fixtures: the registered bench setups, then one pass of
    // every input table through the project's loaders
    val reps = (0 until TickBench.SetupReps).map { _ =>
      timedS {
        names.flatMap(setups.get).foreach(_(spark, in))
        tables.foreach(t => graft.Tables.table(spark, in, t).count())
        graft.Tables.events(spark, in).count()
      }
    }
    putArray("setup_reps_s", reps)
    res.put("setup_rep_s", median(reps))
    mark("setup_done")

    final case class Timing(build: Long, plan: Long, exec: Long, t0: Long, t1: Long, t2: Long, t3: Long)
    /** Build, plan and run one query; `results` writes its rows for the
      * oracle instead of the noop sink the timed laps use. */
    def once(name: String, results: Boolean): Timing = {
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      graft.RddHygiene.sweptAfter(spark) {
        val built = all(name)(spark, in)
        val df = if (results) built.transform(graft.Verify.ntzNormalize).coalesce(1) else built
        val n1 = System.nanoTime(); val w1 = System.currentTimeMillis()
        df.queryExecution.executedPlan
        val n2 = System.nanoTime(); val w2 = System.currentTimeMillis()
        if (results) df.write.mode("overwrite").parquet(s"$out/results/$name")
        else df.write.format("noop").mode("overwrite").save()
        val n3 = System.nanoTime(); val w3 = System.currentTimeMillis()
        Timing(n1 - n0, n2 - n1, n3 - n2, w0, w1, w2, w3)
      }
    }
    val failed = scala.collection.mutable.Set.empty[String]
    def lap(results: Boolean): Seq[(String, Option[Timing])] = names.map { n =>
      n -> (try Some(once(n, results)) catch { case e: Throwable =>
        failed += n
        System.err.println(s"[tickbench] $n failed: $e")
        None
      })
    }
    // the untimed warm-up lap writes every result for the oracle check
    res.put("warmup_lap_s", timedS(lap(results = true)))
    mark("warmup_done")
    val rows = res.putObject("result_rows")
    val sqlObj = res.putObject("oracle_sql")
    names.foreach { n =>
      graft.SparkEntry.oracleSql.get(n).foreach(sqlObj.put(n, _))
      if (!failed(n)) rows.put(n, spark.read.parquet(s"$out/results/$n").count())
    }

    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val laps = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Option[Timing])]]
    val cpu0 = cpuMs()
    // whole laps only, and another one only if the last lap's duration
    // still fits: a run measures the same number of laps whatever the
    // host speed, and a first lap that overruns the window is the only one
    var lastNs = 0L
    while (System.nanoTime() + lastNs < deadline) {
      val s = System.nanoTime()
      laps += lap(results = false)
      lastNs = System.nanoTime() - s
    }
    res.put("window_cpu_ms", cpuMs() - cpu0)
    windowMs = (t0Ms, System.currentTimeMillis())
    res.put("window_s", (System.nanoTime() - t0) / 1e9)
    mark("window_done")
    val lapArr = res.putArray("laps")
    laps.foreach { l =>
      val o = lapArr.addObject()
      l.foreach { case (n, t) =>
        val q = o.putObject(n)
        t match {
          case Some(x) =>
            q.put("build_ms", x.build / 1e6); q.put("plan_ms", x.plan / 1e6)
            q.put("exec_ms", x.exec / 1e6); q.put("ok", true)
          case None => q.put("ok", false)
        }
      }
    }

    mark("checks_done")
    layers.foreach { l =>
      l.settle()
      val m = res.putObject("layers")
      val nLaps = laps.size.toDouble
      val js = l.jobsIn(windowMs._1, windowMs._2)
      def ms(j: Seq[JobSpan]) = j.filter(_.end >= 0).map(x => x.end - x.start).sum.toDouble
      def inWin(a: Long, b: Long) = js.filter(j => j.start >= a && j.start <= b)
      val perQuery = names.map { n =>
        val ts = laps.flatMap(_.collect { case (`n`, Some(t)) => t })
        n -> Seq(
          "build_ms" -> ts.map(_.build / 1e6).sum,
          "build_jobs" -> ts.map(t => inWin(t.t0, t.t1).size.toDouble).sum,
          "plan_ms" -> ts.map(_.plan / 1e6).sum,
          "exec_ms" -> ts.map(_.exec / 1e6).sum).map { case (k, v) => k -> v / nLaps }
      }
      Seq("build_ms", "build_jobs", "plan_ms", "exec_ms").foreach { k =>
        m.put(s"analytics.$k", perQuery.map(_._2.toMap.apply(k)).sum)
      }
      perQuery.foreach { case (n, kv) => kv.foreach { case (k, v) => m.put(s"analytics.$n.$k", v) } }
      m.put("tables.inference_jobs_per_lap", js.count(_.layer == "tables") / nLaps)
      m.put("tables.inference_ms_per_lap", ms(js.filter(_.layer == "tables")) / nLaps)
      val execs = l.execs.asScala.values.filter(e => e.end >= windowMs._1 && e.end <= windowMs._2).toSeq
      val nq = nLaps * names.size
      catalyst(m, execs, nq)
      val rowsPerLap = names.flatMap(n => Option(rows.get(n)).map(_.asLong)).sum
      exec(m, l, js, nq, (rowsPerLap * nLaps).toLong)
      writeSpans(l, laps.zipWithIndex.toSeq.flatMap { case (lp, i) =>
        lp.collect { case (n, Some(t)) =>
          val q = s"l$i.$n"
          Seq(span("query", q, n, None, t.t0, t.t3),
            span("build", s"$q.build", n, Some(q), t.t0, t.t1),
            span("plan", s"$q.plan", n, Some(q), t.t1, t.t2),
            span("exec", s"$q.exec", n, Some(q), t.t2, t.t3))
        }.flatten
      })
    }
  }

  def env(): Unit = {
    mark("end")
    val e = res.putObject("env")
    val rt = Runtime.getRuntime
    e.put("cpus", rt.availableProcessors())
    e.put("heap_max_mb", rt.maxMemory() / (1024L * 1024L))
    e.put("gc_ms_total", gcMs())
    e.put("gc_ms_run", gcMs() - gcAtStart)
    e.put("gc_count_total", java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionCount).filter(_ >= 0).sum)
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    e.put("heap_peak_mb", heapPeak / (1024.0 * 1024.0))
  }
}

object Run {
  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
}
