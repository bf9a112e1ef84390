package graft

import org.apache.spark.sql.SparkSession

/** The one session factory and the one query-timing harness.
  *
  * [[session]] is the only place a `SparkSession` is built; `Bench`,
  * `Verify`, `ScaleGen` and [[main]] all call it. [[setups]] is the only
  * fixture loop: registered builders run ONCE, before anything is timed,
  * so laps measure the query path rather than fixture construction, and
  * lazily-built caches predate the per-query [[RddHygiene]] sweeps.
  *
  * Modes (`runMain graft.Harness <mode> ...`); every mode function takes
  * the session as a parameter, so specs drive them on the test session:
  *
  *  - `time <names>`: 3 noop-sink laps per query in ONE session (run1 =
  *    cold/JIT — trust run2/3). Several names keep the JVM warm across
  *    them, the steady-state number for envelope/regression reads. Data
  *    dir: `SPARK_GRAFT_SF_DIR`, default sf0.1.
  *  - `stamp <dir> <names>`: the gen-slice stamp for evidence-bearing
  *    queries (streaming gates, store drains). Prints the timed set-up
  *    and, next to the warm lap, the drained-row evidence (row count +
  *    per-long-column sums), so a zero-row silent drain can never read
  *    as a fast lap (the r15 streaming-layout bug: a pathGlobFilter
  *    matching no files "drained" NOTHING in 0.99 s). Protocol: run the
  *    JVM twice per cell and take the min of the warm laps.
  *  - `plan <outDir> <tag> <names>`: writes `explain("formatted")` of
  *    each query to `<outDir>/<q>_<tag>.txt` WITHOUT executing it — the
  *    pre-AQE physical plan, the optimization-round evidence artifact.
  *    Data dir as for `time`.
  *  - `audit [--all | names]`: the [[ExplainAudit]] nets. No argument
  *    audits the curated list with the formatted-plan text checks;
  *    `--all` sweeps the structural net over EVERY registered query plus
  *    the [[DerivedConstants]] collision check (expect `sweep done: 0
  *    queries with structural warnings`); names print the structural
  *    warnings with the offending subtrees. Data dir as for `time`,
  *    default sf0.001.
  */
object Harness {

  /** Local cores for the session: `SPARK_GRAFT_CPUS`, else every core. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI. */
  def session(): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs the registered fixture of each of `names` that has one, in
    * name order, and returns each fixture's wall seconds. A failing
    * fixture is reported on stderr and does not stop the others (its
    * query then fails visibly on its own).
    */
  def setups(spark: SparkSession, dir: String,
             names: Iterable[String]): Seq[(String, Double)] = {
    val wanted = names.toSet
    SparkEntry.benchSetups.toSeq.filter { case (n, _) => wanted(n) }
      .sortBy(_._1).map { case (n, fn) =>
        val sec = seconds {
          try fn(spark, dir) catch { case e: Throwable =>
            System.err.println(s"[harness] setup $n failed: ${e.getMessage}")
          }
        }
        n -> sec
      }
  }

  /** Fails on unknown names BEFORE any setup or lap runs — a typo must
    * not throw mid-run after earlier queries were already timed.
    */
  private def requireKnown(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — known names are " +
        s"SparkEntry.queries keys (${SparkEntry.queries.size} registered)")
  }

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Three timed laps of `lap` per name; prints `runN` and `warm` (the
    * min of runs 2-3) with `suffix(name)` appended to the warm line.
    * blocking=true: lap N's checkpoint blocks are evicted BEFORE lap
    * N+1's timed region starts, not concurrently with it.
    */
  private def laps(spark: SparkSession, names: Seq[String])(
      lap: (String, Int) => Double)(suffix: String => String): Unit =
    names.foreach { name =>
      val secs = (1 to 3).map { i =>
        val sec = RddHygiene.sweptAfter(spark, blocking = true)(lap(name, i))
        println(f"$name run$i: $sec%.2f s")
        sec
      }
      println(f"$name warm: ${secs.tail.min}%.2f s${suffix(name)}")
    }

  /** `time` mode: noop-sink laps, every output column evaluated. */
  def time(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    requireKnown(names)
    setups(spark, dir, names)
    laps(spark, names) { (name, _) =>
      seconds {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
    }(_ => "")
  }

  /** `stamp` mode: collected laps plus the non-vacuity evidence. */
  def stamp(spark: SparkSession, dir: String, names: Seq[String]): Unit = {
    requireKnown(names)
    // for fixture-building gates (the versioned-ingest streaming drain)
    // the setup IS the scaling evidence: a cold cell shows the build
    // wall, a re-run shows the fixture cache hit
    setups(spark, dir, names).foreach { case (n, sec) =>
      println(f"$n setup: $sec%.2f s")
    }
    val evidence = scala.collection.mutable.Map.empty[String, String]
    laps(spark, names) { (name, i) =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, dir)
      val rows = df.collect()
      val sec = (System.nanoTime() - t0) / 1e9
      if (i == 1) {
        val sums = df.schema.fields.zipWithIndex.collect {
          case (f, idx) if f.dataType == org.apache.spark.sql.types.LongType =>
            val s = rows.iterator.filterNot(_.isNullAt(idx)).map(_.getLong(idx)).sum
            s"sum(${f.name})=$s"
        }
        evidence(name) = (s"rows=${rows.length}" +: sums.toSeq).mkString(", ")
      }
      sec
    }(name => s"  [${evidence(name)}]")
  }

  /** `plan` mode: one formatted-plan file per query, nothing executed. */
  def plan(spark: SparkSession, dir: String, outDir: String, tag: String,
           names: Seq[String]): Unit = {
    requireKnown(names)
    setups(spark, dir, names)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val text = SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val out = s"$outDir/${name}_$tag.txt"
      java.nio.file.Files.write(java.nio.file.Paths.get(out), text.getBytes("UTF-8"))
      println(s"wrote $out (${text.length} chars)")
    }
  }

  /** `audit` mode; see the object scaladoc for its three forms. */
  def audit(spark: SparkSession, dir: String, args: Seq[String]): Unit =
    args match {
      case Seq("--all") => auditAll(spark, dir)
      case Seq() => auditCurated(spark, dir)
      case names => requireKnown(names); auditNames(spark, dir, names)
    }

  private def auditAll(spark: SparkSession, dir: String): Unit = {
    var bad = 0
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      try {
        val (ws, notes) = ExplainAudit.planWarningsDetail(
          SparkEntry.queries(name)(spark, dir), Some(name))
        if (ws.nonEmpty) {
          bad += 1
          println(s"!! $name: ${ws.mkString("; ")}")
        } else if (notes.nonEmpty)
          println(s"-- $name: ${notes.size} allowlisted note(s)")
      } catch { case e: Throwable =>
        println(s"?? $name: construction failed: ${e.getMessage}")
      }
    }
    // every data-derived plan constant recorded while constructing the
    // plans above must be disjoint from the bounds registries, so the
    // lattice cannot silently re-collide as SFs or generation laws change
    val coll = DerivedConstants.collisions()
    coll.foreach(c => println(s"!! derived-constant collision: $c"))
    println(s"derived constants recorded: ${DerivedConstants.recorded
      .map { case (q, l, v) => s"$q.$l=$v" }.mkString(", ")}")
    println(s"sweep done: ${bad + coll.size} queries with structural warnings")
  }

  private def auditCurated(spark: SparkSession, dir: String): Unit =
    ExplainAudit.Curated.foreach { name =>
      println(s"\n======== $name ========")
      val df = SparkEntry.queries(name)(spark, dir)
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      println(text)
      val (structural, allowlisted) = ExplainAudit.planWarningsDetail(df, Some(name))
      val warnings = Seq(
        ("PushedFilters: []", "scan has NO pushed filters"),
        ("CartesianProduct", "cartesian product in plan"))
        .collect { case (needle, msg) if text.contains(needle) => msg } ++
        structural
      allowlisted.foreach(n => println(s"-- $n"))
      if (warnings.nonEmpty) println(s"!! ${warnings.mkString("; ")}")
    }

  private def auditNames(spark: SparkSession, dir: String,
                         names: Seq[String]): Unit = names.foreach { name =>
    println(s"\n======== $name ========")
    val df = SparkEntry.queries(name)(spark, dir)
    val ws = ExplainAudit.planWarnings(df)
    println(if (ws.isEmpty) "WARNINGS: none" else ws.mkString("WARNINGS:\n  ", "\n  ", ""))
    if (ws.nonEmpty) {
      import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join => LJoin}
      df.queryExecution.optimizedPlan.foreach {
        case j: LJoin =>
          Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).foreach {
            case (Some(h), side) if h.strategy.contains(BROADCAST) =>
              println(s"--- hinted side:\n${side.treeString.take(3000)}")
            case _ =>
          }
        case _ =>
      }
      df.queryExecution.sparkPlan.foreach {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty =>
          println(s"--- unpartitioned window child:\n${w.child.treeString.take(3000)}")
        case _ =>
      }
    }
  }

  private val Usage = "usage: graft.Harness time <query...> | stamp <dir> <query...> | " +
    "plan <outDir> <tag> <query...> | audit [--all | <query...>]"

  def main(args: Array[String]): Unit = {
    def sfDir(default: String) = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", default)
    val sf01 = "/root/testdata/sf0.1"
    val run: SparkSession => Unit = args.toList match {
      case "time" :: names if names.nonEmpty => time(_, sfDir(sf01), names)
      case "stamp" :: dir :: names if names.nonEmpty => stamp(_, dir, names)
      case "plan" :: out :: tag :: names if names.nonEmpty =>
        plan(_, sfDir(sf01), out, tag, names)
      case "audit" :: rest => audit(_, sfDir("/root/testdata/sf0.001"), rest)
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = session()
    try run(spark) finally spark.stop()
  }
}
