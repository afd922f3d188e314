package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation. `build` returns the frame whose noop write is the
  * timed action (building it is timed too: eager operators and streaming
  * gates do their work there). `work` is the op's input size in the
  * workload's unit (cells, documents, queries). */
final case class Op(name: String, work: Double, build: () => DataFrame)

/** A workload owns its seeded inputs, its op list and its output checks. */
trait Workload {
  def name: String
  /** Seconds of a run's `--seconds` per pass over the ops: a run makes
    * `ceil(seconds / passSeconds)` passes (at least 2). */
  def passSeconds: Double
  /** Generates and caches the inputs and runs any shared-input builds. */
  def setup(spark: SparkSession, seed: Long): Unit
  def ops: Seq[Op]
  /** Output checks, run outside the timed region: op name -> mismatch. */
  def check(spark: SparkSession): Map[String, String]
  /** Direct single-thread probes of kernels / functions (traced run only):
    * metric name -> value. */
  def probes(spark: SparkSession): Map[String, Double] = Map.empty
  /** Per-layer metrics derived from the traced pass. */
  def layerMetrics(spark: SparkSession, t: Trace, passes: Int,
                   probes: Map[String, Double]): Map[String, Double] = Map.empty
}

/** One timed call: its run-unique id, its trace span (0 when untraced),
  * wall time, and the error if it threw. */
final case class Call(op: String, id: Long, span: Long, startNs: Long, endNs: Long,
                      cols: Seq[String], err: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Harness {
  val nSetups = 3

  /** The one session factory: Verify's settings (UTC session timezone,
    * default columnar compression, shuffle partitions = cores), with
    * Spark's scratch space kept inside the benchmark's build directory. */
  def session(cores: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The timed action: a noop sink consumes every output column. The call
    * id rides along as a write option so [[PlanCheck]] can match the write. */
  def evaluate(df: DataFrame, call: Long = -1L): Unit =
    df.write.format("noop").option(PlanCheck.CallOption, call.toString).mode("overwrite").save()

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcRegion(): String =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-XX:G1HeapRegionSize="))
      .map(_.stripPrefix("-XX:G1HeapRegionSize=")).getOrElse("default")

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private val callIds = new java.util.concurrent.atomic.AtomicLong()

  /** Seeded op orders: one permutation of the op indices per pass. */
  def orders(seed: Long, passes: Int, nOps: Int): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(passes)(rnd.shuffle((0 until nOps).toVector))
  }

  /** Runs one pass over the ops per order. Returns the calls, the process
    * CPU time of each pass and the wall time of all of them. */
  def timedPass(spark: SparkSession, ops: Seq[Op], orders: Seq[Seq[Int]], trace: Option[Trace],
                cachedBytes: Option[() => Double] = None)
      : (ArrayBuffer[Call], ArrayBuffer[Double], Double) = {
    val calls = ArrayBuffer[Call]()
    val cpu = ArrayBuffer[Double]()
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    orders.foreach { order =>
      val passSpan = trace.map(_.open("pass", "bench", None))
      val c0 = processCpuNs()
      order.foreach { i =>
        val op = ops(i)
        val id = callIds.incrementAndGet()
        val span = trace.map(_.open(op.name, "api", passSpan)).getOrElse(0L)
        sc.setJobGroup(s"span-$span", op.name, interruptOnCancel = false)
        val s0 = System.nanoTime()
        var cols = Seq.empty[String]
        val err = try {
          val df = op.build()
          cols = df.columns.toSeq
          evaluate(df, id)
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        val s1 = System.nanoTime()
        sc.clearJobGroup()
        trace.foreach { t =>
          t.close(span)
          cachedBytes.foreach(f => t.span(span).attrs("cached_bytes") = f())
        }
        calls += Call(op.name, id, span, s0, s1, cols, err)
      }
      cpu += (processCpuNs() - c0) / 1e9
      passSpan.foreach(s => trace.foreach(_.close(s)))
    }
    (calls, cpu, (System.nanoTime() - t0) / 1e9)
  }
}
