package perfbench

import org.apache.spark.sql.DataFrame

/** The benchmark's full-evaluation test: the timed action of every declared
  * query in `SparkEntry.all` and of every `imaging` and `corpus` op must
  * consume all of the frame's output columns in its executed plan. Controls
  * show that the check can fail: a narrower select and a `count()` of the
  * same frames must be reported as not keeping every column. Prints each
  * violation and exits 1 when there is one.
  *
  * Arguments: --data DIR --scratch DIR --cores K
  */
object FullEvaluation {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Harness.session(a("cores").toInt, a("scratch"))
    val check = new PlanCheck
    spark.listenerManager.register(check)
    val imaging = new Imaging
    imaging.setup(spark, 1L)
    val corpus = new Corpus
    corpus.setup(spark, 1L)
    var call = 0L
    /** Evaluates `timed` as a timed action; true when its executed plan
      * keeps every output column of `df`. */
    def keepsAll(df: DataFrame, timed: DataFrame): (Boolean, Seq[String]) = {
      call += 1
      Harness.evaluate(timed, call)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val kept = check.writes.synchronized(check.writes.get(call))
      (kept.contains(df.columns.toSeq), kept.getOrElse(Nil))
    }
    val actions: Seq[(String, () => DataFrame)] =
      graft.SparkEntry.all.map(q => q.name -> (() => q.run(spark, a("data")))) ++
        (imaging.ops ++ corpus.ops).map(o => o.name -> o.build)
    val results = actions.map { case (name, build) =>
      val df = build()
      val (ok, kept) = keepsAll(df, df)
      (name, df.columns.length, ok, s"$name: executed plan keeps ${kept.mkString(",")} of ${df.columns.mkString(",")}")
    }
    val bad = results.collect { case (_, _, false, msg) => msg }
    // controls: the first imaging op and the first declared query with two or more columns
    val controls = (imaging.ops.head.name +: results.collectFirst {
      case (name, n, _, _) if name.startsWith("q_") && n >= 2 => name
    }.toSeq).map(n => n -> actions.find(_._1 == n).get._2)
    val missed = controls.flatMap { case (name, build) =>
      val df = build()
      Seq("select" -> df.select(df.columns.head), "count" -> df.groupBy().count()).flatMap {
        case (kind, narrowed) =>
          val (ok, kept) = keepsAll(df, narrowed)
          println(s"control $name.$kind: keeps ${kept.mkString(",")} of ${df.columns.mkString(",")}: " +
            (if (ok) "NOT flagged" else "flagged"))
          if (ok) Some(s"control $name.$kind was not flagged") else None
      }
    }
    bad.foreach(println)
    missed.foreach(println)
    println(s"full evaluation: ${results.length - bad.length}/${results.length} actions keep every output column; " +
      s"${2 * controls.length - missed.length}/${2 * controls.length} narrowed controls flagged")
    spark.stop()
    if (bad.nonEmpty || missed.nonEmpty) sys.exit(1)
  }
}
