package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.api.Graft
import graft.functions.TextFunctions

/** Seeded synthetic corpus: Zipf vocabulary (the five stopwords first),
  * log-normal document lengths, planted exact and near duplicates, a few
  * email / number tokens for redaction, and an eval set that copies
  * 8-token spans out of planted training documents. */
final case class CorpusData(docs: Vector[(Long, String)], eval: Vector[(Long, String)],
                            nearPairs: Set[(Long, Long)])

object CorpusGen {
  val nBase = 1000
  val vocab = 6000
  val exactShare = 0.05
  val nearShare = 0.10
  val nEval = 40
  val contaminated = 10

  def apply(seed: Long): CorpusData = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    val words = Array("the", "a", "of", "and", "to") ++ (5 until vocab).map(i => "w" + Integer.toString(i, 36))
    val cdf = {
      val w = (1 to vocab).map(k => 1.0 / math.pow(k, 1.05))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val u = r.nextDouble()
      if (u < 0.004) s"user${r.nextInt(1000)}@mail.example.org"
      else if (u < 0.012) r.nextInt(100000).toString
      else {
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        words(math.min(vocab - 1, if (i >= 0) i else -i - 1))
      }
    }
    def length(): Int = math.max(8, math.min(400, math.exp(3.6 + 0.7 * gauss()).toInt))
    def gauss(): Double = {   // Box-Muller
      val u = math.max(1e-12, r.nextDouble()); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val base = Vector.tabulate(nBase)(_ => Vector.fill(length())(word()))
    val docs = mutable.ArrayBuffer[Vector[String]](base: _*)
    val near = mutable.Set[(Long, Long)]()
    (0 until (nBase * exactShare).toInt).foreach(_ => docs += base(r.nextInt(nBase)))
    (0 until (nBase * nearShare).toInt).foreach { _ =>
      val src = r.nextInt(nBase)
      val d = base(src).toArray
      d(r.nextInt(d.length)) = word()     // one substituted token
      near += ((src.toLong, docs.length.toLong))
      docs += d.toVector
    }
    val texts = docs.zipWithIndex.map { case (d, i) => (i.toLong, d.mkString(" ")) }.toVector
    val eval = Vector.tabulate(nEval) { e =>
      val own = Vector.fill(length())(word())
      val toks = if (e < contaminated) {
        val src = base(r.nextInt(nBase))
        val at = r.nextInt(math.max(1, src.length - 8))
        own.take(own.length / 2) ++ src.slice(at, at + 8) ++ own.drop(own.length / 2)
      } else own
      (e.toLong, toks.mkString(" "))
    }
    CorpusData(texts, eval, near.toSet)
  }

  def simhash64(text: String): Long = {
    val votes = new Array[Int](64)
    text.split(" ", -1).foreach { w =>
      var h = scala.util.hashing.MurmurHash3.stringHash(w).toLong * 0x9E3779B97F4A7C15L
      h ^= h >>> 29
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    (0 until 64).foldLeft(0L)((v, b) => if (votes(b) > 0) v | (1L << b) else v)
  }

  def tokens(t: String): Array[String] = t.split(" ", -1)
  def grams(t: String, n: Int): Seq[String] = tokens(t).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSeq
}

/** `corpus`: the LLM-pipeline API on a seeded synthetic corpus. */
class Corpus extends Workload {
  val name = "corpus"
  val passSeconds = 8.0
  val minTokens = 20
  val stopwords = Seq("the", "a", "of", "and", "to")
  val maxTokens = 2048
  val hammingR = 3
  val (termGrams, maxDf, minCosine) = (3, 8, 0.05)

  private var spark: SparkSession = _
  private var data: CorpusData = _
  private var docs, eval, fps: DataFrame = _

  def setup(s: SparkSession, seed: Long): Unit = {
    spark = s
    import s.implicits._
    data = CorpusGen(seed)
    val parts = s.sparkContext.defaultParallelism
    def cached(df: DataFrame) = { val p = df.repartition(parts).persist(); p.count(); p }
    docs = cached(data.docs.toDF("id", "text"))
    eval = cached(data.eval.toDF("id", "text"))
    fps = cached(data.docs.map { case (id, t) => (id, CorpusGen.simhash64(t)) }.toDF("id", "fp"))
  }

  def ops: Seq[Op] = {
    val n = data.docs.length.toDouble
    Seq(
      Op("clean_corpus", n, () => Graft.cleanCorpus(docs, "id", "text", Some(eval), minTokens,
        stopwords = stopwords)),
      Op("near_dup_candidates", n, () => Graft.nearDupCandidates(docs, "id", "text")),
      Op("dedup_clusters", n, () => Graft.dedupClusters(docs, "id", "text")),
      Op("decontaminate", n, () => Graft.decontaminate(docs, eval, "id", "text")),
      Op("sparse_cosine_pairs", n, () =>
        Graft.sparseCosinePairs(docs, "id", "text", termGrams, maxDf, minCosine)),
      Op("hamming_pairs", n, () => Graft.hammingPairs(fps, "id", "fp", hammingR)),
      Op("pack_sequences", n, () => Graft.packSequences(docs, "id", "text", maxTokens)))
  }

  // ---- output checks: planted truth or a plain-Scala recomputation ----
  def check(s: SparkSession): Map[String, String] = {
    val byOp = ops.map(o => o.name -> o).toMap
    val out = mutable.LinkedHashMap[String, String]()
    // an op that throws fails with its error; its (empty) output is then not judged again
    def run(op: String) = try byOp(op).build().collect() catch {
      case e: Exception => out(op) = s"$op: check threw $e"; Array.empty[Row]
    }
    def expect(op: String, ok: Boolean, msg: => String): Unit = if (!ok) out.getOrElseUpdate(op, s"$op: $msg")
    val texts = data.docs.toMap
    val contentRep = data.docs.groupBy(_._2).map { case (_, ds) => ds.map(_._1).min }.toSet
    val evalGrams = data.eval.flatMap(e => CorpusGen.grams(e._2, 5)).toSet

    // clean_corpus: content dedup, length and stopword filters, decontamination, redaction
    val cleanWant = data.docs.filter { case (id, t) =>
      val toks = CorpusGen.tokens(t)
      contentRep(id) && toks.length >= minTokens &&
        toks.count(stopwords.contains).toDouble / toks.length <= 0.5 &&
        !CorpusGen.grams(t, 5).exists(evalGrams)
    }.map { case (id, t) =>
      id -> t.replaceAll("[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>").replaceAll("[0-9]+", "<num>")
    }.toMap
    val cleanGot = run("clean_corpus").map(r => r.getLong(r.fieldIndex("id")) -> r.getString(r.fieldIndex("text"))).toMap
    expect("clean_corpus", cleanGot == cleanWant, s"${cleanGot.size} docs kept, want ${cleanWant.size}")

    // near_dup_candidates: planted near-dup recall and blocking precision
    val cand = run("near_dup_candidates").map(r => (r.getLong(0), r.getLong(1))).toSeq
    val candSet = cand.toSet
    val planted = data.nearPairs.filter { case (a, b) => contentRep(a) && contentRep(b) && texts(a) != texts(b) }
    val recall = planted.count(p => candSet(p)).toDouble / math.max(1, planted.size)
    expect("near_dup_candidates", cand.forall { case (a, b) => a < b } && cand.size == candSet.size &&
      recall >= 0.9, s"recall of planted near-dups $recall over ${planted.size}")

    // dedup_clusters: union-find over content groups and the candidate pairs
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val q = find(p); parent(x) = q; q } }
    def union(a: Long, b: Long): Unit = { val (x, y) = (find(a), find(b)); if (x != y) parent(math.max(x, y)) = math.min(x, y) }
    data.docs.groupBy(_._2).values.foreach(g => g.foreach(d => union(d._1, g.head._1)))
    cand.foreach { case (a, b) => union(a, b) }
    val comp = data.docs.map(d => d._1 -> find(d._1)).toMap
    val size = comp.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val clusters = run("dedup_clusters").map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    expect("dedup_clusters", clusters.size == comp.size &&
      comp.forall { case (id, c) => clusters.get(id).contains((c, size(c))) }, "clusters differ from union-find")

    // decontaminate: distinct eval 5-grams per training doc
    val decWant = data.docs.map { case (id, t) => id -> CorpusGen.grams(t, 5).toSet.count(evalGrams).toLong }
      .filter(_._2 > 0).toMap
    val decGot = run("decontaminate").map(r => r.getLong(0) -> r.getLong(1)).toMap
    expect("decontaminate", decGot == decWant, s"${decGot.size} contaminated docs, want ${decWant.size}")

    // sparse_cosine_pairs: the rare-term candidate rule and exact dots
    val tf = data.docs.map { case (id, t) => id -> CorpusGen.grams(t, termGrams).groupBy(identity).map { case (g, v) => g -> v.size.toLong } }.toMap
    val df = tf.values.flatMap(_.keys).groupBy(identity).map { case (g, v) => g -> v.size }
    val byTerm = tf.toSeq.flatMap { case (id, m) => m.keys.filter(g => df(g) >= 2 && df(g) <= maxDf).map(_ -> id) }
      .groupBy(_._1).values
    val pairs = byTerm.flatMap { ids => val v = ids.map(_._2).sorted; for (i <- v; j <- v if i < j) yield (i, j) }.toSet
    val norm = tf.map { case (id, m) => id -> m.values.map(x => x * x).sum }
    val cosWant = pairs.flatMap { case (a, b) =>
      val dot = tf(a).map { case (g, x) => x * tf(b).getOrElse(g, 0L) }.sum
      val c = BigDecimal(dot / (math.sqrt(norm(a).toDouble) * math.sqrt(norm(b).toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (c >= minCosine) Some((a, b, dot, c)) else None
    }
    val cosGot = run("sparse_cosine_pairs").map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    expect("sparse_cosine_pairs", cosGot == cosWant, s"${cosGot.size} pairs, want ${cosWant.size}")

    // hamming_pairs: brute force over the fingerprints
    val fp = data.docs.map { case (id, t) => id -> CorpusGen.simhash64(t) }
    val hamWant = (for {
      i <- fp.indices.iterator; j <- (i + 1 until fp.length).iterator
      h = java.lang.Long.bitCount(fp(i)._2 ^ fp(j)._2) if h <= hammingR
    } yield (fp(i)._1, fp(j)._1, h)).toSet
    val hamGot = run("hamming_pairs").map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    expect("hamming_pairs", hamGot == hamWant, s"${hamGot.size} pairs, want ${hamWant.size}")

    // pack_sequences: exclusive token prefix sum in id order
    var cum = 0L
    val packWant = data.docs.sortBy(_._1).map { case (id, t) =>
      val n = CorpusGen.tokens(t).length.toLong
      val row = (id, n, cum / maxTokens); cum += n; row
    }.toSet
    val packGot = run("pack_sequences").map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    expect("pack_sequences", packGot == packWant, "sequence assignment differs")
    out.toMap
  }

  /** Candidate pairs whose 3-shingle Jaccard similarity is at least 0.5,
    * as a share of all candidate pairs. */
  def precision(cand: Seq[(Long, Long)]): Double = {
    val texts = data.docs.toMap
    def shingles(t: String) = CorpusGen.grams(t, 3).toSet
    cand.count { case (a, b) =>
      val (x, y) = (shingles(texts(a)), shingles(texts(b)))
      (x & y).size.toDouble / math.max(1, (x | y).size) >= 0.5
    }.toDouble / math.max(1, cand.size)
  }

  /** Blocking precision of one untimed near_dup_candidates call. */
  def nearDupPrecision(): Double =
    precision(Graft.nearDupCandidates(docs, "id", "text").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)

  /** Spark jobs of one untimed dedup_clusters call (GraphCC's fixpoint). */
  def dedupJobs(s: SparkSession): Double = {
    val t = new Trace
    t.install(s)
    val span = t.open("dedup_clusters", "api", None)
    s.sparkContext.setJobGroup(s"span-$span", "dedup_clusters", interruptOnCancel = false)
    Harness.evaluate(Graft.dedupClusters(docs, "id", "text"))
    s.sparkContext.clearJobGroup()
    t.close(span)
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)
    t.uninstall(s)
    t.jobsOf(span).length
  }

  // ---- traced run: direct function probes and operator ratios ----
  /** ns per document of one function, evaluated by a compiled projection
    * on this thread over the seeded documents. */
  private def nsPerDoc(f: Column => Column, tokenized: Boolean = false): Double = {
    val s = spark
    import s.implicits._
    val input = if (tokenized) Seq.empty[Seq[String]].toDF("text") else Seq.empty[String].toDF("text")
    val plan = org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
      input.select(f(col("text")).as("o")).queryExecution.analyzed)
    val proj = plan match {
      case Project(list, child) => UnsafeProjection.create(list, child.output)
      case other => throw new IllegalStateException(s"unexpected plan $other")
    }
    val rows = data.docs.map { d =>
      if (tokenized) InternalRow(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        CorpusGen.tokens(d._2).map(UTF8String.fromString)))
      else InternalRow(UTF8String.fromString(d._2))
    }
    rows.foreach(proj(_))
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 200000000L || n < rows.length) { rows.foreach(proj(_)); n += rows.length }
    (System.nanoTime() - t0).toDouble / n
  }

  /** Function probes, plus blocking precision and GraphCC jobs of one
    * untimed call each. */
  override def probes(s: SparkSession): Map[String, Double] = Map(
    "minhash_sig" -> nsPerDoc(t => TextFunctions.minhashSigUdf(t, lit(4), lit(3))),
    "word_grams" -> nsPerDoc(toks => TextFunctions.wordGrams(toks, 5), tokenized = true),
    "simhash" -> nsPerDoc(t => TextFunctions.simhash16Udf(t)),
    "redact" -> nsPerDoc(t => TextFunctions.redact(t))
  ).map { case (k, v) => s"functions.$k.ns_per_doc" -> v } ++ Map(
    "operators.blocking_precision" -> nearDupPrecision(),
    "operators.graphcc_jobs" -> dedupJobs(s))
}
