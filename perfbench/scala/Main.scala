package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One client thread issues one fully evaluated action at
  * a time (a closed loop). Set-up runs [[Harness.nSetups]] times in this JVM:
  * the first is cold (class loading, JIT, first codegen), the rest warm; the
  * last session is the one measured. Writes `result.json` (and `spans.json` for
  * a traced run) into `--out`; `perfbench/run.py` prints the final line.
  *
  * Arguments: --workload imaging|corpus|query_sweep --seed N --seconds S
  * --trace 0|1 --cores K --out DIR --scratch DIR [--data DIR]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val wl: Workload = a("workload") match {
      case "imaging" => new Imaging
      case "corpus" => new Corpus
      case "query_sweep" => new Sweep(a("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, several times; the median is setup_s, the first setup_cold_s ----
    var spark: SparkSession = null
    val setupS = (0 until Harness.nSetups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Harness.session(cores, a("scratch"))
      val t1 = System.nanoTime()
      wl.setup(spark, seed)
      val t2 = System.nanoTime()
      wl.ops.foreach { op =>   // JIT/codegen warm pass; errors resurface when timed
        try Harness.evaluate(op.build()) catch { case _: Throwable => () }
      }
      System.err.println(f"[perfbench] setup session ${(t1 - t0) / 1e9}%.2f inputs ${(t2 - t1) / 1e9}%.2f warm ${(System.nanoTime() - t2) / 1e9}%.2f")
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    def cachedBytes(): Double = sc.getRDDStorageInfo.map(_.memSize).sum.toDouble
    val setupCachedMb = cachedBytes() / 1048576.0

    val planCheck = new PlanCheck
    spark.listenerManager.register(planCheck)
    val ops = wl.ops

    // ---- timed pass(es) ----
    // A fixed number of whole passes, ceil(seconds / passSeconds): a fixed
    // amount of work, so that neither the pass count nor what accumulates
    // per pass varies with host speed.
    // A traced run alternates untraced and traced passes over the same
    // orders (U T, T U, ...), so the warm-up trend cancels out of the
    // tracing overhead; the per-layer numbers come from the traced ones.
    val passes = math.max(2, math.ceil(seconds / wl.passSeconds).toInt)
    val orders = Harness.orders(seed, if (traced) math.max(2, passes / 2) else passes, ops.length)
    val calls = mutable.ArrayBuffer[Call]()
    val cpuPerPass = mutable.ArrayBuffer[Double]()
    var wall = 0.0
    var trace: Option[Trace] = None
    var tracedWall = Double.NaN
    var probes = Map.empty[String, Double]
    var tracedCalls = Seq.empty[Call]
    var codegenS = 0.0
    def untracedPass(order: Seq[Seq[Int]]): Unit = {
      val (c, cpu, w) = Harness.timedPass(spark, ops, order, None)
      calls ++= c; cpuPerPass ++= cpu; wall += w
    }
    if (!traced) untracedPass(orders)
    else {
      val t = new Trace
      trace = Some(t)
      tracedWall = 0.0
      orders.zipWithIndex.foreach { case (order, i) =>
        def tracedPass(): Unit = {
          org.apache.spark.PerfbenchBus.drain(sc)
          t.install(spark)
          val cg = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
          val (c, _, w) = Harness.timedPass(spark, ops, Seq(order), trace, Some(() => cachedBytes()))
          codegenS += (org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - cg) / 1e9
          org.apache.spark.PerfbenchBus.drain(sc)
          t.uninstall(spark)
          tracedCalls ++= c
          tracedWall += w
        }
        if (i % 2 == 0) { untracedPass(Seq(order)); tracedPass() }
        else { tracedPass(); untracedPass(Seq(order)) }
      }
      probes = wl.probes(spark)
    }
    val allCalls = calls.toSeq ++ tracedCalls
    org.apache.spark.PerfbenchBus.drain(sc)
    spark.listenerManager.unregister(planCheck)

    // ---- output checks, outside the timed region ----
    val checkT0 = System.nanoTime()
    val heapMb = Harness.heapAfterGcMb()
    val failures = mutable.LinkedHashMap[String, String]()
    // full evaluation: every noop write consumed all of the op's columns
    val writes = planCheck.writes.synchronized(planCheck.writes.toMap)
    allCalls.filter(_.err.isEmpty).foreach { c =>
      if (!writes.get(c.id).contains(c.cols))
        failures.getOrElseUpdate(c.op, s"timed plan keeps ${writes.get(c.id).map(_.mkString(",")).getOrElse("nothing")}" +
          s" of ${c.cols.mkString(",")}")
    }
    allCalls.foreach(c => c.err.foreach(e => failures.getOrElseUpdate(c.op, e)))
    wl.check(spark).foreach { case (k, v) => failures.getOrElseUpdate(k, v) }
    def good(c: Call) = c.err.isEmpty && !failures.contains(c.op)

    val checkS = (System.nanoTime() - checkT0) / 1e9
    val perLayer: Seq[(String, Double)] = trace.map { t =>
      Layers.common(t, tracedCalls, orders.length, setupCachedMb, codegenS, wall, tracedWall) ++
        wl.layerMetrics(spark, t, orders.length, probes).toSeq.sortBy(_._1) ++
        probes.toSeq.sortBy(_._1) ++
        ops.map(op => s"api.${wl.name}.${op.name}.s" ->
          Harness.median(tracedCalls.filter(c => c.op == op.name && good(c)).map(_.seconds))) :+
        (s"api.${wl.name}.query.s" -> Harness.median(tracedCalls.filter(good).map(_.seconds)))
    }.getOrElse(Nil)

    val opStats = ops.map { op =>
      val cs = calls.filter(_.op == op.name)
      op.name -> Json.obj("calls" -> cs.length, "ok" -> cs.count(good),
        "median_s" -> Harness.median(cs.filter(good).map(_.seconds).toSeq), "work" -> op.work)
    }
    val rt = Runtime.getRuntime
    val result = Json.obj(
      "workload" -> wl.name, "seed" -> seed, "trace" -> traced,
      "correct" -> failures.isEmpty,
      "attempted" -> allCalls.length,
      "failed" -> allCalls.count(c => !good(c)),
      "calls" -> calls.map(c => Seq(c.op, c.seconds, good(c))).toSeq,
      "cpu_per_pass_s" -> cpuPerPass,
      "retained_heap_mb" -> heapMb,
      "work" -> Json.obj(ops.map(o => o.name -> o.work): _*),
      "per_layer" -> Json.obj(perLayer: _*),
      "errors" -> Json.obj(failures.toSeq: _*),
      "ops" -> Json.obj(opStats: _*),
      "passes" -> orders.length, "pass_wall_s" -> wall, "traced_pass_wall_s" -> tracedWall,
      "setup_s_all" -> setupS, "check_s" -> checkS,
      "config" -> Json.obj(
        "nproc" -> rt.availableProcessors(), "master" -> sc.master,
        "heap_max_mb" -> rt.maxMemory / 1048576.0, "g1_region" -> Harness.gcRegion(),
        "spark_version" -> spark.version,
        "session_timezone" -> spark.conf.get("spark.sql.session.timeZone"),
        "columnar_compressed" -> spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed", "true")))
    Files.writeString(out.resolve("result.json"), result.s + "\n")
    trace.foreach(t => Files.writeString(out.resolve("spans.json"), t.toJson + "\n"))
    wl match {
      case s: Sweep => s.writeOutputs(spark, out)
      case _ => ()
    }
    spark.stop()
  }
}

/** Per-layer metrics that every workload reports from its traced pass,
  * normalized per pass over the op list. */
object Layers {
  def common(t: Trace, calls: Seq[Call], passes: Int, setupCachedMb: Double,
             codegenS: Double, untracedWall: Double, tracedWall: Double): Seq[(String, Double)] = {
    val p = passes.toDouble
    val stages = t.spans.filter(_.layer == "engine.stage").toSeq
    val jobs = t.spans.filter(_.layer == "engine.job").toSeq
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val skew = t.taskTimes.values.filter(_.length >= 2).map { ts =>
      val m = Harness.median(ts.toSeq)
      if (m > 0) ts.max / m else 1.0
    }.foldLeft(1.0)(math.max)
    val apiSpans = calls.map(c => t.span(c.span))
    val floor = apiSpans.map { s =>
      val jobsIv = t.jobsOf(s.id).map(j => (j.startUs, math.max(j.endUs, j.startUs)))
      (s.endUs - s.startUs) - t.covered(jobsIv, s.startUs, s.endUs)
    }.sum / 1e6
    val cachedAfter = apiSpans.map(_.attrs.getOrElse("cached_bytes", 0.0) / 1048576.0 - setupCachedMb)
    val mb = 1048576.0
    Seq(
      "engine.jobs" -> jobs.length / p,
      "engine.stages" -> stages.length / p,
      "engine.tasks" -> sum("tasks") / p,
      "engine.executor_run_s" -> sum("executor_run_s") / p,
      "engine.executor_cpu_s" -> sum("executor_cpu_s") / p,
      "engine.gc_s" -> sum("gc_s") / p,
      "engine.task_launch_delay_s" -> t.schedulerDelayS / p,
      "engine.task_skew" -> skew,
      "engine.single_task_stages" -> stages.count(_.attrs.getOrElse("tasks", 0.0) == 1.0) / p,
      "relational.analysis_s" -> t.phases("analysis") / p,
      "relational.optimization_s" -> t.phases("optimization") / p,
      "relational.planning_s" -> t.phases("planning") / p,
      "relational.codegen_s" -> codegenS / p,
      "relational.driver_floor_s" -> floor / p,
      "relational.shared_inputs_mb" -> setupCachedMb,
      "streaming.add_batch_s" -> t.streamDurations("addBatch") / p,
      "streaming.query_planning_s" -> t.streamDurations("queryPlanning") / p,
      "streaming.wal_commit_s" -> t.streamDurations("walCommit") / p,
      "streaming.latest_offset_s" -> t.streamDurations("latestOffset") / p,
      "streaming.batches" -> t.streamBatches / p,
      "plans.rewrites_fired" -> t.rewritesFired / p,
      "plans.nested_loop_joins" -> t.nestedLoopJoins / p,
      "operators.shuffle_write_mb" -> sum("shuffle_write_bytes") / mb / p,
      "operators.shuffle_read_mb" -> sum("shuffle_read_bytes") / mb / p,
      "operators.spill_mb" -> sum("spill_bytes") / mb / p,
      "operators.cached_mb_after" -> (if (cachedAfter.isEmpty) 0.0 else math.max(0.0, cachedAfter.max)),
      "trace.overhead_s" -> (tracedWall - untracedWall),
      "trace.overhead_share" -> (tracedWall - untracedWall) / untracedWall)
  }
}
