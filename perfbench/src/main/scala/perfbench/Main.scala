package perfbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.TransientCache
import org.apache.spark.sql.graftshim.SessionSweep

/** The benchmark's JVM side: runs one workload in a closed loop (one client,
  * jobs back to back) and prints a dump line and a result line on stdout.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --work DIR --cpus N --expected FILE
  * }}}
  *
  * A run is: three set-ups (each a fresh session and one untimed pass; the
  * first pass also checks every registered query's result digest), a timed
  * window of whole passes lasting at least `--seconds` in the last session,
  * a check of the corpus sinks the last pass wrote, and a full GC. The seed
  * permutes the job order of every pass. After every job, outside its
  * timing, the run sweeps exactly as `graft.Bench` does:
  * `TransientCache.releaseAll`, the session conf restored,
  * `SessionSweep.sweepStreamingState` and a GC when that or the heap asks.
  */
object Main {
  val PhaseProp = "perfbench.phase"
  val Setups = 3

  private def median(xs: scala.collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One timed execution of a job. */
  final case class Run(job: String, build: Double, write: Double) {
    def total: Double = build + write
  }

  def main(args: Array[String]): Unit = {
    val jvm0 = System.nanoTime()
    val marks = ArrayBuffer.empty[(String, Double)]
    def mark(phase: String): Unit = marks += phase -> secondsSince(jvm0)
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")
    val cpus = opt("cpus").toInt
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

    val jobs: Seq[Job] = workload match {
      case "mr_corpus" => Jobs.mrCorpus(data, s"$work/sinks", seed)
      case "neardup_stream" => Jobs.nearDupStream(s"$data/fixture")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rng = new scala.util.Random(seed)
    def order(): Seq[Job] = rng.shuffle(jobs)

    var spark: SparkSession = null
    var confSnapshot = Map.empty[String, String]
    def newSession(): Unit = {
      val master = if (workload == "mr_corpus") s"local[$cpus,2]" else s"local[$cpus]"
      spark = SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      confSnapshot = spark.conf.getAll
    }
    def restoreConf(): Unit = {
      val now = spark.conf.getAll
      for (k <- now.keySet ++ confSnapshot.keySet) {
        (confSnapshot.get(k), now.get(k)) match {
          case (Some(v0), Some(v1)) if v0 != v1 => spark.conf.set(k, v0)
          case (Some(v0), None) => spark.conf.set(k, v0)
          case (None, Some(_)) => try spark.conf.unset(k) catch { case _: Throwable => () }
          case _ => ()
        }
      }
    }

    var releaseS = 0.0
    var rddsLeft = 0
    var filesLeft = 0
    def sweep(): Unit = {
      val t0 = System.nanoTime()
      TransientCache.releaseAll(spark)
      releaseS += secondsSince(t0)
      restoreConf()
      val rt = Runtime.getRuntime
      if (SessionSweep.sweepStreamingState()
          || rt.totalMemory() - rt.freeMemory() > rt.maxMemory() / 10L * 6L)
        System.gc()
      rddsLeft = math.max(rddsLeft, spark.sparkContext.getPersistentRDDs.size)
      filesLeft = math.max(filesLeft, Jobs.leftovers(tmp))
    }

    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    def runJob(job: Job): Option[Run] = {
      val sc = spark.sparkContext
      attempted += 1
      try {
        sc.setLocalProperty(PhaseProp, "build")
        val t0 = System.nanoTime()
        val built = job.build(spark)
        val t1 = System.nanoTime()
        sc.setLocalProperty(PhaseProp, "write")
        job.write(spark, built)
        val t2 = System.nanoTime()
        Some(Run(job.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"${job.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
          None
      } finally {
        sc.setLocalProperty(PhaseProp, null)
        sweep()
      }
    }

    // verification: a job's output against the generator's expectation (the
    // corpus applications) or against the recorded digest and its twin's
    val expected = Expected.load(opt("expected"))
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val mismatches = ArrayBuffer.empty[String]
    def check(name: String)(result: => Option[String]): Unit = {
      attempted += 1
      val r = try result catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      r.foreach { m => failed += 1; mismatches += s"$name: $m".take(300) }
    }
    def verifyQuery(j: QueryJob): Unit = check(j.name) {
      try {
        val d = Jobs.digest(j.build(spark).asInstanceOf[org.apache.spark.sql.DataFrame])
        digests(j.name) = d
        expected.get(j.name) match {
          case Some(w) if w == d => None
          case Some(w) => Some(s"digest $d, want $w")
          case None => Some(s"digest $d has no expectation")
        }
      } finally sweep()
    }

    // set-up, several times: session start plus one untimed pass. The first
    // pass computes the digest of every registered query's result instead of
    // the no-op write; the others, each in a fresh session, are plain
    // warm-ups. The timed window follows in the last session.
    val setupS = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      newSession()
      order().foreach {
        case j: QueryJob if i == 1 => verifyQuery(j)
        case j => runJob(j)
      }
      secondsSince(t0)
    }
    for ((s, b, _) <- Jobs.StreamPairs if digests.contains(s)) check(s"$s=$b") {
      if (digests.get(s) == digests.get(b)) None
      else Some(s"stream ${digests(s)} != batch ${digests.getOrElse(b, "missing")}")
    }

    mark("setups")
    // timed window: whole passes until `seconds` have elapsed; a traced run
    // alternates traced and untraced passes, so it measures its own overhead
    final case class Pass(runs: Seq[Run], traced: Boolean, layers: Map[String, Double]) {
      def seconds: Double = runs.map(_.total).sum
    }
    val passes = ArrayBuffer.empty[Pass]
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val window0 = System.nanoTime()
    while (passes.size < (if (trace) 2 else 1) || secondsSince(window0) < seconds) {
      val traced = trace && passes.size % 2 == 0
      if (traced) tracer.foreach(_.attach())
      releaseS = 0.0
      val runs = order().flatMap { j =>
        val r = runJob(j)
        if (traced) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        r
      }
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          tracer.foreach(_.detach())
          tracer.get.take() + ("cache.release_s" -> releaseS)
        }
      passes += Pass(runs, traced, layers)
    }

    mark("window")
    // the corpus applications' sinks, written by the last timed pass
    jobs.foreach {
      case j: MrJob =>
        val want = if (j.name == "crash") "nocrash" else j.name
        check(j.name)(Jobs.compareSink(j.sink, s"$data/expected/$want.txt"))
      case _ => ()
    }

    mark("verify")
    TransientCache.releaseAll(spark)
    SessionSweep.sweepStreamingState()
    // the smallest heap in use over three full collections: a collection
    // can run before the context cleaner has released what the last one freed
    val rt = Runtime.getRuntime
    val retainedMb = (1 to 3).map { _ =>
      System.gc()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }.min
    mark("heap")

    val untraced = passes.filterNot(_.traced)
    val timed = if (trace) passes.filter(_.traced) else passes
    val passS = median(timed.map(_.seconds))
    val jobMedians = jobs.map(j => j.name -> timed.flatMap(_.runs.filter(_.job == j.name).map(_.total)))
      .map { case (n, xs) => n -> ((median(xs), xs.size)) }
    val geomean = math.exp(jobMedians.map { case (_, (m, _)) => math.log(math.max(m, 1e-6)) }.sum / jobs.size)
    val inputMb = jobs.map(_.inputBytes).sum / (1024.0 * 1024.0)

    val endToEnd = Seq(
      ("setup_s", median(setupS), "s"),
      ("pass_s", passS, "s"),
      ("job_geomean_s", geomean, "s"),
      ("input_mb_per_s", inputMb / passS, "MB/s"),
      ("ok_frac", (attempted - failed).toDouble / math.max(attempted, 1), "frac"),
      ("retained_heap_mb", retainedMb, "MB"))

    val perLayer: Seq[(String, Double, String)] = if (!trace) Nil else {
      val traced = passes.filter(_.traced)
      def mean(k: String) = traced.map(_.layers.getOrElse(k, 0.0)).sum / traced.size
      def perPass(f: Pass => Double) = traced.map(f).sum / traced.size
      val counted = Seq(
        "entry.build_jobs" -> "count",
        "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.planning_s" -> "s",
        "plan.exchanges" -> "count", "plan.smj" -> "count", "plan.bhj" -> "count", "plan.bnlj" -> "count",
        "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
        "sched.failed_attempts" -> "count",
        "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
        "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.records" -> "count",
        "shuffle.fetch_wait_s" -> "s", "shuffle.spill_mb" -> "MB",
        "io.input_mb" -> "MB", "io.input_records" -> "count",
        "io.output_mb" -> "MB", "io.output_records" -> "count",
        "mr.map_stage_s" -> "s", "mr.reduce_stage_s" -> "s",
        "cache.release_s" -> "s", "cache.storage_mb_peak" -> "MB",
        "stream.batches" -> "count", "stream.add_batch_s" -> "s", "stream.query_planning_s" -> "s",
        "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
        "stream.state_rows" -> "count", "stream.state_commit_s" -> "s")
      val pairOverhead = perPass { p =>
        def t(n: String) = p.runs.filter(_.job == n).map(_.total).sum
        Jobs.StreamPairs.collect { case (s, b, _) if jobs.exists(_.name == s) => t(s) - t(b) }.sum
      }
      val tasks = mean("sched.tasks")
      Seq(
        ("entry.build_s", perPass(_.runs.map(_.build).sum), "s"),
        ("entry.write_s", perPass(_.runs.map(_.write).sum), "s")) ++
        counted.map { case (k, u) => (k, mean(k), u) } ++ Seq(
        ("sched.task_busy_frac", perPass(p => p.layers.getOrElse("sched.task_busy_ms", 0.0) / 1000.0 /
          (p.seconds * cpus)), "frac"),
        ("sched.useful_task_frac", if (tasks == 0) 1.0 else mean("sched.tasks_ok") / tasks, "frac"),
        ("cache.rdds_left", rddsLeft.toDouble, "count"),
        ("stream.overhead_s", pairOverhead, "s"),
        ("staging.files_left", filesLeft.toDouble, "count"),
        ("trace.overhead_s", passS - median(untraced.map(_.seconds)), "s"))
    }

    def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

    val dump = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "cpus" -> cpus.toString,
      "trace" -> trace.toString,
      "elapsed_s" -> obj(marks.toSeq.map { case (k, v) => k -> num(v) }),
      "setup_samples_s" -> arr(setupS.map(num)),
      "passes" -> arr(passes.toSeq.map(p => obj(Seq("traced" -> p.traced.toString,
        "seconds" -> num(p.seconds))))),
      "pass_s_untraced" -> num(median(untraced.map(_.seconds))),
      "pass_s_traced" -> num(median(passes.filter(_.traced).map(_.seconds))),
      "jobs" -> obj(jobMedians.map { case (n, (m, k)) =>
        n -> obj(Seq("median_s" -> num(m), "samples" -> k.toString)) }),
      "input_mb_per_pass" -> num(inputMb),
      "digests" -> obj(digests.toSeq.map { case (k, v) => k -> str(v) }),
      "errors" -> arr(errors.toSeq.map(str)),
      "mismatches" -> arr(mismatches.toSeq.map(str))))
    val metrics = obj((if (trace) perLayer else endToEnd).map { case (k, v, u) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
    val correct = failed == 0
    println(obj(Seq("dump" -> dump)))
    println(obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }
}

/** Expected result digests, one `"name": "rows:hash"` entry per query. */
object Expected {
  def load(path: String): Map[String, String] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.readTree(new File(path))
    val it = node.fields()
    val out = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      out += e.getKey -> e.getValue.asText()
    }
    out.result()
  }
}
