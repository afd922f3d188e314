package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.Graft
import graft.kernels._
import graft.operators.TiledStencil
import graft.operators.TiledStencil.Tile3
import graft.operators.VolumeZoom.ZSlice

/** Seeded tensors. Every generator is a pure function of (seed, row id), so
  * the output checks regenerate any row on the driver. */
object Gen {
  def rng(seed: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + id * 0xC2B2AE3D27D4EB4FL)

  def doubles(seed: Long, id: Long, n: Int): Array[Double] = {
    val r = rng(seed, id)
    Array.fill(n)(r.nextDouble())
  }

  /** Blocky random mask: 8-cell blocks on with p = 0.5, then 5% of the
    * cells flipped, so components and distances vary in size. */
  def mask(seed: Long, id: Long, rows: Int, cols: Int): Array[Boolean] = {
    val r = rng(seed, id)
    val bc = (cols + 7) / 8
    val blocks = Array.fill(((rows + 7) / 8) * bc)(r.nextDouble() < 0.5)
    Array.tabulate(rows * cols) { f =>
      val on = blocks((f / cols / 8) * bc + (f % cols) / 8)
      if (r.nextDouble() < 0.05) !on else on
    }
  }

  /** Random image that is zero outside the inscribed circle (radon's input
    * contract). */
  def phantom(seed: Long, id: Long, size: Int): Array[Double] = {
    val d = doubles(seed, id, size * size)
    val rad = size / 2
    for (i <- 0 until size; j <- 0 until size) {
      val (di, dj) = (i - rad, j - rad)
      if (di * di + dj * dj > rad * rad) d(i * size + j) = 0.0
    }
    d
  }

  /** Boolean volume voxel at global (x, y, z): 8-voxel blocks, 5% noise. */
  def voxel(seed: Long, x: Int, y: Int, z: Int): Boolean = {
    val b = rng(seed, ((x / 8).toLong * 4096 + y / 8) * 4096 + z / 8).nextDouble() < 0.5
    val n = rng(seed ^ 0x5bd1e995L, (x.toLong * 65536 + y) * 65536 + z).nextDouble() < 0.05
    b != n
  }
}

/** `imaging`: the imops operator set on seeded tensors, through the
  * `Graft` facade, the `exprs` bridges and the tiled `operators`. */
class Imaging extends Workload {
  val name = "imaging"
  val passSeconds = 1.0

  // Shapes: each op is sized to tens of milliseconds on a few cores, so a
  // run holds well over 100 operations (see README.md for the table).
  val img = 256; val nImg = 16            // zoom / pointwise: 2^20 cells
  val grid = 256; val nGrid = 4096        // interp1d: 4096 rows x 256 points
  val rad = 256; val nRad = 4             // radon / inverse_radon, 180 angles
  val msk = 512; val nMsk = 8             // morphology, edt, label, com
  val vz = 48                             // volume_zoom: 48^3, scale 2
  val ts = 16; val tg = 2                 // tiled volume: 32^3 as 2^3 tiles of 16^3
  val theta: Seq[Double] = RadonKernel.thetaLinspace(180).toSeq
  val xs: Array[Double] = Array.tabulate(grid)(_.toDouble)
  val checkIds = Seq(3L)

  private var spark: SparkSession = _
  private var seed = 0L
  private var images, grids, phantoms, sinos, masks, maskF64: DataFrame = _
  private var zslices: Dataset[ZSlice] = _
  private var tiles: Dataset[Tile3] = _
  private var xq: Array[Double] = _

  private def cached(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  def setup(s: SparkSession, sd: Long): Unit = {
    spark = s; seed = sd
    import s.implicits._
    val seedL = sd
    val gen = udf((id: Long, n: Int) => Gen.doubles(seedL, id, n))
    val genMask = udf((id: Long, r: Int, c: Int) => Gen.mask(seedL, id, r, c))
    val genPhantom = udf((id: Long, n: Int) => Gen.phantom(seedL, id, n))
    images = cached(s.range(nImg).select(col("id"), gen(col("id"), lit(img * img)).as("data")))
    grids = cached(s.range(nGrid).select(col("id"), gen(col("id"), lit(grid)).as("data")))
    phantoms = cached(s.range(nRad).select(col("id"), genPhantom(col("id"), lit(rad)).as("data")))
    // sinograms straight from the kernel: a plan equal to the radon op's
    // would let the cache manager answer that op from this frame
    val (th, n) = (theta.toArray, rad)
    val genSino = udf((id: Long) => RadonKernel.radonSlice(Gen.phantom(seedL, id, n), n, th))
    sinos = cached(s.range(nRad).select(col("id"), genSino(col("id")).as("s")))
    masks = cached(s.range(nMsk).select(col("id"), genMask(col("id"), lit(msk), lit(msk)).as("mask")))
    maskF64 = cached(s.range(nMsk).select(col("id"), gen(col("id"), lit(msk * msk)).as("data")))
    zslices = s.range(vz).select(lit(0L).as("id"), col("id").cast("int").as("sid"),
      gen(col("id") + 1000000L, lit(vz * vz)).as("data")).as[ZSlice]
    zslices = cached(zslices.toDF()).as[ZSlice]
    val (t, g) = (ts, tg)
    tiles = s.range(g * g * g).as[Long].map { id =>
      val (ti, tj, tk) = ((id / (g * g)).toInt, ((id / g) % g).toInt, (id % g).toInt)
      val data = Array.tabulate(t * t * t) { f =>
        Gen.voxel(seedL, ti * t + f / (t * t), tj * t + (f / t) % t, tk * t + f % t)
      }
      Tile3(0L, ti, tj, tk, data)
    }
    tiles = cached(tiles.toDF()).as[Tile3]
    xq = { val r = Gen.rng(sd, -1L); Array.fill(grid)(r.nextDouble() * (grid + 10) - 5) }
  }

  private val shape2 = (n: Int) => array(lit(n), lit(n))
  private def ids(df: DataFrame, out: Column) = df.select(col("id"), out.as("o"))

  /** (op, input cells, frame). */
  private def defs: Seq[(String, Long, () => DataFrame)] = {
    implicit val s: SparkSession = spark
    val th = array(theta.map(lit): _*)
    val mc = nMsk.toLong * msk * msk
    Seq(
      ("zoom_o1", nImg.toLong * img * img, () =>
        ids(images, Graft.zoom(col("data"), shape2(img), 2, Left(2.0), order = 1))),
      ("zoom_o0", nImg.toLong * img * img, () =>
        ids(images, Graft.zoom(col("data"), shape2(img), 2, Left(2.0), order = 0))),
      ("pointwise_add", nImg.toLong * img * img, () =>
        ids(images, Graft.pointwiseAdd(col("data"), 1.0))),
      ("interp1d", nGrid.toLong * grid, () =>
        ids(grids, graft.exprs.Interp1dExpr.interp1dArr(typedlit(xs), col("data"), typedlit(xq),
          lit(true), lit(0.0)))),
      ("radon", nRad.toLong * rad * rad, () => ids(phantoms, Graft.radon(col("data"), rad, theta))),
      ("inverse_radon", nRad.toLong * rad * rad, () =>
        ids(sinos, graft.exprs.InverseRadonExpr.inverseRadon(col("s"), lit(rad), th, lit(0.0)))),
      ("erosion", mc, () => ids(masks, Graft.binaryErosion(col("mask"), shape2(msk)))),
      ("dilation", mc, () => ids(masks, Graft.binaryDilation(col("mask"), shape2(msk)))),
      ("closing", mc, () => ids(masks, Graft.binaryClosing(col("mask"), shape2(msk)))),
      ("opening", mc, () => ids(masks, Graft.binaryOpening(col("mask"), shape2(msk)))),
      ("edt", mc, () => ids(masks, Graft.distanceTransformEdt(col("mask"), shape2(msk), Seq(1.0, 1.0)))),
      ("label", mc, () =>
        ids(masks, Graft.label(col("mask").cast("array<double>"), shape2(msk)))),
      ("center_of_mass", mc, () =>
        graft.exprs.ComPartialSums.centerOfMassVolume(maskF64, col("data"), lit(msk), lit(msk), col("id"))),
      ("volume_zoom", vz.toLong * vz * vz, () =>
        Graft.zoomVolume(zslices, Array(vz, vz, vz), Array(2.0, 2.0, 2.0)).toDF()),
      ("volume_erosion", math.pow(ts * tg, 3).toLong, () =>
        TiledStencil.erode3(tiles, ts, Array(tg, tg, tg)).toDF()),
      ("volume_label", math.pow(ts * tg, 3).toLong, () =>
        Graft.labelVolume(tiles, ts, Array(tg, tg, tg))))
  }

  def ops: Seq[Op] = defs.map { case (n, cells, f) => Op(n, cells.toDouble, f) }

  // ---- output checks ----
  private def rows(df: DataFrame): Map[Long, Row] =
    df.where(col("id").isin(checkIds: _*)).collect().map(r => r.getLong(0) -> r).toMap
  private def dbl(r: Row, i: Int): Array[Double] = r.getSeq[Double](i).toArray
  private def bool(r: Row, i: Int): Array[Boolean] = r.getSeq[Boolean](i).toArray
  private def same(a: Array[Double], b: Array[Double]) = java.util.Arrays.equals(a, b)
  private def sameB(a: Array[Boolean], b: Array[Boolean]) = java.util.Arrays.equals(a, b)

  def check(s: SparkSession): Map[String, String] = {
    val byOp = ops.map(o => o.name -> o).toMap
    val sh = Array(msk, msk)
    val (fp, fs) = StencilKernel.crossFootprint(2)
    def guard(op: String)(check: => Option[String]): Option[String] =
      try check catch { case e: Exception => Some(s"$op: check threw $e") }
    def perRow(op: String)(ok: (Long, Row) => Boolean): Option[String] = guard(op) {
      val got = rows(byOp(op).build())
      if (got.size != checkIds.size) Some(s"$op: rows ${got.keys} missing")
      else checkIds.find(id => !ok(id, got(id))).map(id => s"$op: row $id differs from the direct kernel call")
    }
    def img2(id: Long) = Gen.doubles(seed, id, img * img)
    def zoomOk(order: Int)(id: Long, r: Row) = {
      val (d, shp) = ZoomKernel.zoom(img2(id), Array(img, img), Array(2.0, 2.0), order, 0.0)
      val o = r.getStruct(1)
      same(dbl(o, 0), d) && o.getSeq[Int](1).toArray.sameElements(shp)
    }
    def m(id: Long) = Gen.mask(seed, id, msk, msk)
    val results = Seq(
      perRow("zoom_o1")(zoomOk(1)),
      perRow("zoom_o0")(zoomOk(0)),
      perRow("pointwise_add")((id, r) => same(dbl(r, 1), img2(id).map(_ + 1.0))),
      perRow("interp1d")((id, r) =>
        same(dbl(r, 1), Interp1dKernel.interp(xs, Gen.doubles(seed, id, grid), xq, true, 0.0))),
      perRow("radon")((id, r) =>
        same(dbl(r, 1), RadonKernel.radonSlice(Gen.phantom(seed, id, rad), rad, theta.toArray))),
      perRow("inverse_radon")((id, r) => same(dbl(r, 1), RadonKernel.inverseRadonSlice(
        RadonKernel.radonSlice(Gen.phantom(seed, id, rad), rad, theta.toArray), rad, theta.toArray))),
      perRow("erosion")((id, r) => sameB(bool(r, 1), StencilKernel.erode(m(id), sh, fp, fs))),
      perRow("dilation")((id, r) => sameB(bool(r, 1), StencilKernel.dilate(m(id), sh, fp, fs))),
      perRow("closing")((id, r) => sameB(bool(r, 1), StencilKernel.close(m(id), sh, fp, fs))),
      perRow("opening")((id, r) => sameB(bool(r, 1), StencilKernel.open(m(id), sh, fp, fs))),
      perRow("edt")((id, r) => same(dbl(r, 1), EdtKernel.edt(m(id), sh, Array(1.0, 1.0)))),
      perRow("label")((id, r) => {
        val k = LabelKernel.label(m(id).map(b => if (b) 1.0 else 0.0), sh)
        val o = r.getStruct(1)
        java.util.Arrays.equals(o.getSeq[Long](0).toArray, k.labels) && o.getInt(1) == k.num
      }),
      guard("center_of_mass")(checkCom(byOp("center_of_mass").build())),
      guard("volume_zoom")(checkVolumeZoom(byOp("volume_zoom").build())),
      guard("volume_erosion")(checkVolumeErosion(byOp("volume_erosion").build())),
      guard("volume_label")(checkVolumeLabel(byOp("volume_label").build())))
    results.flatten.map(msg => msg.takeWhile(_ != ':') -> msg).toMap
  }

  private def checkCom(df: DataFrame): Option[String] = {
    val got = df.collect()(0)
    val vol = (0 until nMsk).flatMap(id => Gen.doubles(seed, id, msk * msk)).toArray
    val want = MeasureKernel.centerOfMass(vol, Array(nMsk, msk, msk))
    val ok = (0 until 3).forall(i => math.abs(got.getDouble(i) - want(i)) <= 1e-9 * math.max(1.0, math.abs(want(i))))
    if (ok) None else Some(s"center_of_mass: ${got.mkString(",")} vs ${want.mkString(",")}")
  }

  private def checkVolumeZoom(df: DataFrame): Option[String] = {
    val vol = (0 until vz).flatMap(sid => Gen.doubles(seed, sid + 1000000L, vz * vz)).toArray
    val (want, shp) = ZoomKernel.zoom(vol, Array(vz, vz, vz), Array(2.0, 2.0, 2.0), 1, 0.0)
    val plane = shp(1) * shp(2)
    val pick = Seq(0, shp(0) / 2 + 1, shp(0) - 1)
    val got = df.where(col("sid").isin(pick: _*)).select("sid", "data").collect()
    val ok = got.length == pick.length && got.forall { r =>
      val sid = r.getInt(0)
      same(r.getSeq[Double](1).toArray, want.slice(sid * plane, (sid + 1) * plane))
    }
    if (ok) None else Some("volume_zoom: slices differ from the single-node kernel")
  }

  private def volume(): Array[Boolean] = {
    val n = ts * tg
    Array.tabulate(n * n * n)(f => Gen.voxel(seed, f / (n * n), (f / n) % n, f % n))
  }

  private def checkVolumeErosion(df: DataFrame): Option[String] = {
    val n = ts * tg
    val (fp, fs) = StencilKernel.crossFootprint(3)
    val want = StencilKernel.erode(volume(), Array(n, n, n), fp, fs)
    val got = new Array[Boolean](n * n * n)
    df.select("ti", "tj", "tk", "data").collect().foreach { r =>
      val (ti, tj, tk) = (r.getInt(0), r.getInt(1), r.getInt(2))
      val d = r.getSeq[Boolean](3)
      for (f <- 0 until ts * ts * ts)
        got(((ti * ts + f / (ts * ts)) * n + tj * ts + (f / ts) % ts) * n + tk * ts + f % ts) = d(f)
    }
    if (sameB(got, want)) None else Some("volume_erosion: tiles differ from the single-node kernel")
  }

  private def checkVolumeLabel(df: DataFrame): Option[String] = {
    val n = ts * tg
    val want = LabelKernel.label(volume().map(b => if (b) 1.0 else 0.0), Array(n, n, n), connectivity = 1)
    val got = new Array[Long](n * n * n)
    df.collect().foreach(r => got(r.getLong(0).toInt) = r.getLong(1))
    if (java.util.Arrays.equals(got, want.labels)) None
    else Some("volume_label: labels differ from the single-node kernel")
  }

  // ---- traced run: direct single-thread kernel probes ----
  /** ns per input cell of one direct kernel call, over >= 0.2 s of calls. */
  private def nsPerCell(cells: Long)(f: => Any): Double = {
    f; f
    var n = 0
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L || n < 3) { f; n += 1 }
    (System.nanoTime() - t0).toDouble / n / cells
  }

  override def probes(s: SparkSession): Map[String, Double] = {
    val im = Gen.doubles(seed, 0, img * img)
    val g = Gen.doubles(seed, 0, grid)
    val ph = Gen.phantom(seed, 0, rad)
    val sino = RadonKernel.radonSlice(ph, rad, theta.toArray)
    val mk = Gen.mask(seed, 0, msk, msk)
    val mf = Gen.doubles(seed, 0, msk * msk)
    val md = mk.map(b => if (b) 1.0 else 0.0)
    val sh = Array(msk, msk)
    val (fp, fs) = StencilKernel.crossFootprint(2)
    val th = theta.toArray
    val c2 = msk.toLong * msk
    Map(
      "zoom_o1" -> nsPerCell(img.toLong * img)(ZoomKernel.zoom(im, Array(img, img), Array(2.0, 2.0), 1, 0.0)),
      "zoom_o0" -> nsPerCell(img.toLong * img)(ZoomKernel.zoom(im, Array(img, img), Array(2.0, 2.0), 0, 0.0)),
      "interp1d" -> nsPerCell(grid)(Interp1dKernel.interp(xs, g, xq, true, 0.0)),
      "radon" -> nsPerCell(rad.toLong * rad)(RadonKernel.radonSlice(ph, rad, th)),
      "inverse_radon" -> nsPerCell(rad.toLong * rad)(RadonKernel.inverseRadonSlice(sino, rad, th)),
      "erode" -> nsPerCell(c2)(StencilKernel.erode(mk, sh, fp, fs)),
      "dilate" -> nsPerCell(c2)(StencilKernel.dilate(mk, sh, fp, fs)),
      "edt" -> nsPerCell(c2)(EdtKernel.edt(mk, sh, Array(1.0, 1.0))),
      "label" -> nsPerCell(c2)(LabelKernel.label(md, sh)),
      "center_of_mass" -> nsPerCell(c2)(MeasureKernel.centerOfMass(mf, sh))
    ).map { case (k, v) => s"kernels.$k.ns_per_cell" -> v }
  }

  /** Kernel-only CPU estimate of one call of each op, in seconds. */
  private def estimate(probes: Map[String, Double]): Map[String, Double] = {
    def ns(k: String) = probes(s"kernels.$k.ns_per_cell")
    val work = ops.map(o => o.name -> o.work).toMap
    Map(
      "zoom_o1" -> ns("zoom_o1"), "zoom_o0" -> ns("zoom_o0"), "interp1d" -> ns("interp1d"),
      "radon" -> ns("radon"), "inverse_radon" -> ns("inverse_radon"),
      "erosion" -> ns("erode"), "dilation" -> ns("dilate"),
      "closing" -> (ns("erode") + ns("dilate")), "opening" -> (ns("erode") + ns("dilate")),
      "edt" -> ns("edt"), "label" -> ns("label"), "center_of_mass" -> ns("center_of_mass")
    ).map { case (op, v) => op -> v * work(op) / 1e9 }
  }

  override def layerMetrics(s: SparkSession, t: Trace, passes: Int,
                            probes: Map[String, Double]): Map[String, Double] = {
    val est = estimate(probes)
    val apis = t.spans.filter(_.layer == "api").toSeq
    def stageSum(op: String, k: String) =
      apis.filter(_.name == op).flatMap(a => t.stagesOf(a.id)).map(_.attrs.getOrElse(k, 0.0)).sum
    def calls(op: String) = apis.count(_.name == op).toDouble
    val kernelOps = est.keys.toSeq
    val estTotal = kernelOps.map(op => est(op) * calls(op)).sum
    val exprs = Map(
      "zoom" -> Seq("zoom_o1", "zoom_o0"), "morph" -> Seq("erosion", "dilation", "closing", "opening"),
      "interp1d" -> Seq("interp1d"), "radon" -> Seq("radon"), "inverse_radon" -> Seq("inverse_radon"),
      "com" -> Seq("center_of_mass"))
    val tiled = Seq("volume_erosion", "volume_label")
    val tiledInput = tiled.map(op => calls(op) * math.pow(ts * tg, 3)).sum   // one byte per voxel
    Map(
      "kernels.est_cpu_s" -> estTotal / passes,
      "kernels.share" -> estTotal / kernelOps.map(stageSum(_, "executor_cpu_s")).sum,
      "kernels.share_run" -> estTotal / kernelOps.map(stageSum(_, "executor_run_s")).sum,
      "operators.shuffle_per_input" -> tiled.map(stageSum(_, "shuffle_write_bytes")).sum / tiledInput
    ) ++ exprs.map { case (e, opsOf) =>
      s"exprs.$e.overhead" ->
        opsOf.map(stageSum(_, "executor_cpu_s")).sum / opsOf.map(op => est(op) * calls(op)).sum
    }
  }
}
