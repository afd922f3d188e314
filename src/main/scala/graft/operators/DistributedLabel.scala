package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernels.LabelKernel
import graft.operators.TiledStencil.Tile

/** Distributed connected-components labeling over tiled boolean masks — the
  * 100 TB path for the reference's `label`
  * (/root/reference/imops/measure.py:33-137), which is single-node cc3d.
  *
  * Classic two-level scheme:
  *  1. label each tile locally (the same union-find kernel), representative
  *     of each local component = the minimum *global* flat pixel index it
  *     contains — a globally unique, order-meaningful id;
  *  2. adjacency across tile borders becomes an edge list between
  *     representatives (shuffle volume O(perimeter), not O(area));
  *  3. iterative min-label propagation over the representative graph to a
  *     fixpoint (driver loop, each round one join — the standard Spark CC
  *     pattern; rounds = diameter of the component graph);
  *  4. final labels densified by rank of the component's minimum pixel
  *     index, which equals the reference's row-major first-appearance
  *     numbering — so results match the single-node kernel exactly.
  *
  * Boolean masks; connectivity 1..ndim in both the 2-D and 3-D forms
  * (conn-1 merges via face keys, conn ≥ 2 via the shell-probe equi-join).
  *
  * r12 (guide §1.2 step 1 / §2.4): each tile is labeled ONCE — pixel rows
  * and border/shell rows emit from a single kernel pass into one cached
  * tagged frame (the r11 shape ran the union-find kernel and the tile
  * source scan twice per query, once for pixels and once for borders).
  * The result materializes eagerly as a local checkpoint and every
  * intermediate cache is released before returning (the
  * TriangleCount/GraphCC release policy). Nothing stays in the
  * CacheManager: the O(true pixels) checkpoint blocks live only while the
  * returned frame is reachable, so callers need not unpersist.
  *
  * `applyAssembled`/`apply3Assembled` are the single-task route for inputs
  * within `TiledStencil.LabelCutoffCells`: one exchange gathers the tiles,
  * the kernel labels the whole mask once, and the frame stays lazy.
  */
object DistributedLabel {

  final case class Px(g: Long, rep: Long)
  final case class Border(bkey: Long, pos: Int, side: Int, rep: Long)

  // unified single-pass emission row: kind 0 = pixel (a = global index),
  // kind 1 = border face cell (a = bkey, b = pos, c = side) or shell cell
  // (a/b/c = global coordinates), always carrying the local component rep
  private type Emit = (Int, Long, Long, Long, Long)

  /** Steps 3+4, shared by the 2-D and 3-D forms: min-label propagation to a
    * fixpoint over the representative graph, then scan-order densification.
    *
    * 100x-scale hardening (round-1 verdict): the loop runs on pair RDDs
    * hash-partitioned ONCE — every edges-join is then shuffle-free, each
    * iteration's result is localCheckpoint'ed so lineage stays O(1) instead
    * of growing per round, and superseded iterations are unpersisted
    * eagerly. Densify ranks component roots with sortBy + zipWithIndex —
    * a distributed range-partitioned sort — instead of a row_number over a
    * global single-partition Window. */
  private def propagateAndDensify(localized: DataFrame, symEdges: DataFrame)
                                 (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // the min-label fixpoint (hash-partitioned once, pointer-doubled,
    // localCheckpoint'ed rounds) lives in GraphCC, shared with the corpus
    // dedup-cluster pipeline
    val labels = GraphCC.minLabels(
      localized.select(col("rep")).distinct().as[Long].rdd,
      symEdges.as[(Long, Long)].rdd)
    val roots = labels.values.distinct(spark.sparkContext.defaultParallelism)
      .sortBy(identity).zipWithIndex()
      .map { case (lbl, idx) => (lbl, idx + 1) }
    // eager local checkpoint, not persist: a persisted frame stays in the
    // CacheManager (and on the heap) for the session, a checkpoint's
    // blocks go when the frame is collected; lost blocks are not
    // recomputed, the trade-off GraphCC's rounds already accept
    val res = localized.join(labels.toDF("rep", "lbl"), Seq("rep"))
      .join(roots.toDF("lbl", "label"), Seq("lbl"))
      .select(col("g"), col("label").cast("long").as("label"))
      .localCheckpoint()
    labels.unpersist(blocking = false)
    res
  }

  /** Runs the two-level scheme over a single-pass tagged emission frame:
    * caches it, splits pixels from border/shell rows, builds `symEdges`
    * with `edgesOf`, propagates, and releases every intermediate. */
  private def run(emitted: Dataset[Emit],
                  edgesOf: DataFrame => DataFrame)
                 (implicit spark: SparkSession): DataFrame = {
    val tagged = emitted.toDF("kind", "a", "b", "c", "rep")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val localized = tagged.where(col("kind") === 0)
      .select(col("a").as("g"), col("rep"))
    val edges = edgesOf(tagged.where(col("kind") === 1))
    val symEdges = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val res = propagateAndDensify(localized, symEdges)
    tagged.unpersist(blocking = false)
    res
  }

  /** Returns (global flat pixel index, label) for every true pixel.
    * `connectivity` 1 (cross) or 2 (8-adjacency, the skimage conn-2):
    * conn-1 merges across tiles by face-key matching; conn-2 switches to
    * the same shell-probe equi-join as the 3-D form (corner cells of four
    * tiles can meet diagonally), shuffle O(perimeter × neighborhood). */
  def apply(tiles: Dataset[Tile], ts: Int, gridRows: Int, gridCols: Int,
            connectivity: Int = 1)
           (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cols = gridCols * ts

    // ONE kernel pass per tile: pixel rows + (face-key or shell) rows
    val emitted: Dataset[Emit] = tiles.flatMap { t =>
      val res = LabelKernel.label(t.data, Array(ts, ts), connectivity)
      val rep = Array.fill(res.num + 1)(Long.MaxValue)
      var i = 0
      while (i < ts * ts) {
        val lb = res.labels(i).toInt
        if (lb != 0) {
          val g = (t.ti.toLong * ts + i / ts) * cols + (t.tj.toLong * ts + i % ts)
          rep(lb) = math.min(rep(lb), g)
        }
        i += 1
      }
      val px = (0 until ts * ts).iterator.flatMap { i =>
        val lb = res.labels(i)
        if (lb == 0) None
        else {
          val g = (t.ti.toLong * ts + i / ts) * cols + (t.tj.toLong * ts + i % ts)
          Some((0, g, 0L, 0L, rep(lb.toInt)): Emit)
        }
      }
      def repAt(i: Int, j: Int): Option[Long] = {
        val lb = res.labels(i * ts + j).toInt
        if (lb == 0) None else Some(rep(lb))
      }
      val border: Iterator[Emit] =
        if (connectivity == 1) {
          val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
          // vertical boundary to the right: boundary id = (ti, tj) pair hashed
          for (i <- 0 until ts) {
            repAt(i, ts - 1).foreach { r =>
              out += ((1, ((t.ti.toLong * gridCols + t.tj) << 1) | 0, i, 0L, r)) }
            if (t.tj > 0) repAt(i, 0).foreach { r =>
              out += ((1, ((t.ti.toLong * gridCols + (t.tj - 1)) << 1) | 0, i, 1L, r)) }
          }
          // horizontal boundary below
          for (j <- 0 until ts) {
            repAt(ts - 1, j).foreach { r =>
              out += ((1, ((t.ti.toLong * gridCols + t.tj) << 1) | 1, j, 0L, r)) }
            if (t.ti > 0) repAt(0, j).foreach { r =>
              out += ((1, (((t.ti - 1).toLong * gridCols + t.tj) << 1) | 1, j, 1L, r)) }
          }
          out.iterator
        } else {
          // conn-2 (8-adjacency): shell cells by global coordinates — a
          // tile-corner cell can meet a diagonal tile's corner, which the
          // face-key scheme cannot express
          (for {
            i <- (0 until ts).iterator; j <- (0 until ts).iterator
            if i == 0 || i == ts - 1 || j == 0 || j == ts - 1
            lb = res.labels(i * ts + j).toInt if lb != 0
          } yield ((1, t.ti.toLong * ts + i, t.tj.toLong * ts + j, 0L, rep(lb)): Emit))
        }
      px ++ border
    }

    def edgesOf(tagged: DataFrame): DataFrame =
      if (connectivity == 1) {
        val borders = tagged.select(col("a").as("bkey"), col("b").as("pos"),
          col("c").as("side"), col("rep"))
        borders.where(col("side") === 0).as("a")
          .join(borders.where(col("side") === 1).as("b"), Seq("bkey", "pos"))
          .select(col("a.rep").as("src"), col("b.rep").as("dst"))
          .where(col("src") =!= col("dst"))
      } else {
        val (nR, nC) = (gridRows.toLong * ts, gridCols.toLong * ts)
        val shell = tagged.select(col("a").as("gi"), col("b").as("gj"), col("rep"))
        val offsets = Seq(-1, 0, 1).flatMap(di => Seq(-1, 0, 1).map(dj => (di, dj)))
          .filter { case (di, dj) => di != 0 || dj != 0 }
        val probes = shell.crossJoin(broadcast(offsets.toDF("di", "dj")))
          .select(col("gi"), col("gj"), col("rep"),
            (col("gi") + col("di")).as("ni"), (col("gj") + col("dj")).as("nj"))
          .where(col("ni") >= 0 && col("ni") < nR && col("nj") >= 0 && col("nj") < nC)
          .where((col("ni") / ts).cast("long") =!= (col("gi") / ts).cast("long") ||
            (col("nj") / ts).cast("long") =!= (col("gj") / ts).cast("long"))
          .select(col("ni"), col("nj"), col("rep"))
        probes.join(
            shell.select(col("gi").as("ni"), col("gj").as("nj"), col("rep").as("rep2")),
            Seq("ni", "nj"))
          .select(col("rep").as("src"), col("rep2").as("dst"))
          .where(col("src") =!= col("dst"))
      }

    run(emitted, edgesOf)
  }

  import graft.operators.TiledStencil.Tile3
  final case class Px3(g: Long, rep: Long)
  final case class Border3(bkey: Long, pos: Int, side: Int, rep: Long)

  /** 3-D volumes: same two-level scheme with face (plane) boundaries.
    *
    * `connectivity` follows the reference's skimage convention mapped to
    * cc3d 6/18/26 (/root/reference/imops/measure.py:22-29): 1 = faces only,
    * 2 = +edges, 3 = +corners. At connectivity 1 cross-tile merging is the
    * face-key matching below (zero coordinate math on the shuffle key); at
    * 2-3 a border cell can also connect through tile EDGES and CORNERS, so
    * the exchange switches to a shell-probe equi-join: every true cell on a
    * tile's 1-deep shell emits its out-of-tile neighbor coordinates, which
    * join against the shells of the owning tiles. Shuffle volume stays
    * O(surface × neighborhood), never O(volume). */
  def apply3(tiles: Dataset[Tile3], ts: Int, grid: Array[Int], connectivity: Int = 1)
            (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (d1, d2) = (grid(1) * ts, grid(2) * ts)

    val emitted: Dataset[Emit] = tiles.flatMap { t =>
      val res = LabelKernel.label(t.data, Array(ts, ts, ts), connectivity)
      val rep = Array.fill(res.num + 1)(Long.MaxValue)
      var f = 0
      while (f < ts * ts * ts) {
        val lb = res.labels(f).toInt
        if (lb != 0) {
          val (i, j, k) = (f / (ts * ts), (f / ts) % ts, f % ts)
          val g = ((t.ti.toLong * ts + i) * d1 + (t.tj.toLong * ts + j)) * d2 + (t.tk.toLong * ts + k)
          rep(lb) = math.min(rep(lb), g)
        }
        f += 1
      }
      val px = (0 until ts * ts * ts).iterator.flatMap { f =>
        val lb = res.labels(f)
        if (lb == 0) None
        else {
          val (i, j, k) = (f / (ts * ts), (f / ts) % ts, f % ts)
          val g = ((t.ti.toLong * ts + i) * d1 + (t.tj.toLong * ts + j)) * d2 + (t.tk.toLong * ts + k)
          Some((0, g, 0L, 0L, rep(lb.toInt)): Emit)
        }
      }
      def repAt(i: Int, j: Int, k: Int): Option[Long] = {
        val lb = res.labels((i * ts + j) * ts + k).toInt
        if (lb == 0) None else Some(rep(lb))
      }
      val border: Iterator[Emit] =
        if (connectivity == 1) {
          def faceKey(ti: Int, tj: Int, tk: Int, axis: Int): Long =
            (((ti.toLong * grid(1) + tj) * grid(2) + tk) * 3) + axis
          val out = scala.collection.mutable.ArrayBuffer.empty[Emit]
          for (a <- 0 until ts; b <- 0 until ts) {
            val pos = a * ts + b
            // +i face of this tile vs -i face of tile below (axis 0)
            repAt(ts - 1, a, b).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk, 0), pos, 0L, r)))
            if (t.ti > 0) repAt(0, a, b).foreach(r => out += ((1, faceKey(t.ti - 1, t.tj, t.tk, 0), pos, 1L, r)))
            // +j face (axis 1)
            repAt(a, ts - 1, b).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk, 1), pos, 0L, r)))
            if (t.tj > 0) repAt(a, 0, b).foreach(r => out += ((1, faceKey(t.ti, t.tj - 1, t.tk, 1), pos, 1L, r)))
            // +k face (axis 2)
            repAt(a, b, ts - 1).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk, 2), pos, 0L, r)))
            if (t.tk > 0) repAt(a, b, 0).foreach(r => out += ((1, faceKey(t.ti, t.tj, t.tk - 1, 2), pos, 1L, r)))
          }
          out.iterator
        } else {
          // shell cells by global coordinates for the probe join below;
          // cells adjacent WITHIN a tile share a local label already (the
          // kernel ran at the same connectivity), so same-tile probes are
          // filtered in edgesOf
          (for {
            i <- (0 until ts).iterator; j <- (0 until ts).iterator; k <- (0 until ts).iterator
            if i == 0 || i == ts - 1 || j == 0 || j == ts - 1 || k == 0 || k == ts - 1
            lb = res.labels((i * ts + j) * ts + k).toInt if lb != 0
          } yield ((1, t.ti.toLong * ts + i, t.tj.toLong * ts + j, t.tk.toLong * ts + k, rep(lb)): Emit))
        }
      px ++ border
    }

    def edgesOf(tagged: DataFrame): DataFrame =
      if (connectivity == 1) {
        val borders = tagged.select(col("a").as("bkey"), col("b").as("pos"),
          col("c").as("side"), col("rep"))
        borders.where(col("side") === 0).as("a")
          .join(borders.where(col("side") === 1).as("b"), Seq("bkey", "pos"))
          .select(col("a.rep").as("src"), col("b.rep").as("dst"))
          .where(col("src") =!= col("dst"))
      } else {
        // shell-probe exchange for edge/corner adjacency: a probe is a
        // shell cell's out-of-tile neighbor coordinate; the equi-join
        // probe→shell materializes exactly the cross-tile adjacency.
        val (nD0, nD1, nD2) = (grid(0).toLong * ts, grid(1).toLong * ts, grid(2).toLong * ts)
        val shell = tagged.select(col("a").as("gi"), col("b").as("gj"),
          col("c").as("gk"), col("rep"))
        val offsets = for {
          di <- -1 to 1; dj <- -1 to 1; dk <- -1 to 1
          m = math.abs(di) + math.abs(dj) + math.abs(dk) if m >= 1 && m <= connectivity
        } yield (di, dj, dk)
        val probes = shell.crossJoin(broadcast(offsets.toDF("di", "dj", "dk")))
          .select(col("gi"), col("gj"), col("gk"), col("rep"),
            (col("gi") + col("di")).as("ni"), (col("gj") + col("dj")).as("nj"),
            (col("gk") + col("dk")).as("nk"))
          .where(col("ni") >= 0 && col("ni") < nD0 && col("nj") >= 0 && col("nj") < nD1 &&
            col("nk") >= 0 && col("nk") < nD2)
          .where((col("ni") / ts).cast("long") =!= (col("gi") / ts).cast("long") ||
            (col("nj") / ts).cast("long") =!= (col("gj") / ts).cast("long") ||
            (col("nk") / ts).cast("long") =!= (col("gk") / ts).cast("long"))
          .select(col("ni"), col("nj"), col("nk"), col("rep"))
        probes.join(
            shell.select(col("gi").as("ni"), col("gj").as("nj"), col("gk").as("nk"),
              col("rep").as("rep2")),
            Seq("ni", "nj", "nk"))
          .select(col("rep").as("src"), col("rep2").as("dst"))
          .where(col("src") =!= col("dst"))
      }

    run(emitted, edgesOf)
  }

  // ---------- single-task route (sub-cutoff inputs) ----------

  /** `apply` for images within [[TiledStencil.LabelCutoffCells]]: one
    * groupByKey gathers every tile into one task, which checks that they
    * form one whole image, untiles it and runs the kernel once. Same rows
    * as `apply`; the frame is lazy and persists nothing. An empty tile set
    * reaches no task and yields no rows, as on the distributed path. */
  def applyAssembled(tiles: Dataset[Tile], ts: Int, gridRows: Int, gridCols: Int,
                     connectivity: Int = 1)
                    (implicit spark: SparkSession): DataFrame =
    assembled(tiles, ts, Array(gridRows, gridCols), connectivity)(
      t => (t.id, Array(t.ti, t.tj), t.data.length))(
      TiledStencil.untile(_, gridRows * ts, gridCols * ts, ts))

  /** `apply3` for volumes within [[TiledStencil.LabelCutoffCells]], the
    * same single-task route as [[applyAssembled]]. */
  def apply3Assembled(tiles: Dataset[Tile3], ts: Int, grid: Array[Int], connectivity: Int = 1)
                     (implicit spark: SparkSession): DataFrame =
    assembled(tiles, ts, grid, connectivity)(
      t => (t.id, Array(t.ti, t.tj, t.tk), t.data.length))(
      TiledStencil.untile3(_, grid.map(_ * ts), ts))

  /** The route over either tile type: `place` gives a tile's (id, grid
    * coordinate, cell count) for the input check, `untile` the whole mask. */
  private def assembled[T](tiles: Dataset[T], ts: Int, grid: Array[Int], connectivity: Int)
                          (place: T => (Long, Array[Int], Int))
                          (untile: Seq[T] => Array[Boolean])
                          (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dims = grid.map(_ * ts)
    tiles.groupByKey(_ => 0).flatMapGroups { (_: Int, it: Iterator[T]) =>
      val all = it.toSeq
      requireOneVolume(all.map(place), grid, Array.fill(grid.length)(ts).product)
      val labels = LabelKernel.label(untile(all), dims, connectivity).labels
      Iterator.range(0, labels.length).filter(labels(_) != 0L).map(g => (g.toLong, labels(g)))
    }.toDF("g", "label")
  }

  /** Throws unless the tiles, given as (id, grid coordinate, cell count),
    * are one volume: a single id, `tileCells` cells each, and every
    * coordinate of `grid` present exactly once. The distributed path
    * would merge such input silently. */
  private def requireOneVolume(tiles: Seq[(Long, Array[Int], Int)], grid: Array[Int],
                               tileCells: Int): Unit = {
    val ids = tiles.map(_._1).distinct
    require(ids.size == 1,
      s"label: tiles of ${ids.size} volume ids (${ids.take(4).mkString(", ")}); one call labels one volume")
    val seen = new Array[Boolean](grid.product)
    tiles.foreach { case (_, at, cells) =>
      val where = at.mkString("(", ", ", ")")
      require(at.indices.forall(d => at(d) >= 0 && at(d) < grid(d)),
        s"label: tile $where lies outside the ${grid.mkString("x")} grid")
      require(cells == tileCells, s"label: tile $where holds $cells cells, not $tileCells")
      val f = at.indices.foldLeft(0)((acc, d) => acc * grid(d) + at(d))
      require(!seen(f), s"label: tile $where appears twice")
      seen(f) = true
    }
    require(tiles.size == seen.length,
      s"label: ${seen.length - tiles.size} of the ${seen.length} grid tiles are missing")
  }
}
