package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `query_sweep`: declared queries from `SparkEntry.all`, each fully
  * evaluated, on the sf0.01 tables. The seed sets the query order of each
  * pass. Output checks write each query once with Verify's action and
  * compare against its DuckDB oracle (done by `tools/check_oracle.py`). */
class Sweep(dataDir: String) extends Workload {
  val name = "query_sweep"
  val passSeconds = 2.5
  private var spark: SparkSession = _

  /** The queries of one pass: see `Sweep.queries`. */
  lazy val selected = {
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    Sweep.queries.map(n => byName.getOrElse(n, throw new NoSuchElementException(s"no declared query $n")))
  }

  private var seed = 0L
  def setup(s: SparkSession, sd: Long): Unit = { spark = s; seed = sd }

  def ops: Seq[Op] = selected.map(q => Op(q.name, 1.0, () => q.run(spark, dataDir)))

  def check(s: SparkSession): Map[String, String] = Map.empty

  /** Text functions, LSH blocking and GraphCC are probed on the seeded
    * corpus of the `corpus` workload, after the traced pass. */
  override def probes(s: SparkSession): Map[String, Double] = {
    val corpus = new Corpus
    corpus.setup(s, seed)
    corpus.probes(s)
  }

  /** Verify's write of every selected query plus its oracle SQL, for the
    * DuckDB comparison that follows the run. */
  def writeOutputs(s: SparkSession, out: Path): Unit = {
    val dir = out.resolve("sweep")
    Files.createDirectories(dir)
    val oracle = selected.flatMap { q =>
      q.oracle.map { sql =>
        // a query that throws here leaves no output, which the comparison reports
        try q.run(s, dataDir).coalesce(1).write.mode("overwrite").parquet(dir.resolve(q.name).toString)
        catch { case e: Exception => System.err.println(s"[perfbench] ${q.name} failed: $e") }
        q.name -> sql
      }
    }
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(oracle: _*).s)
  }
}

object Sweep {
  /** A fixed slice of the declared inventory that fits the run budget and
    * reaches every module the sweep is meant to exercise (grid, text,
    * multimodal, relational, plans rewrites, streaming). The GraphCC
    * queries are left out: their recursive DuckDB oracles take minutes. */
  val queries: Seq[String] = Seq(
    "q_dilation2d", "q_inverse_radon",
    "q_token_count", "q_simhash", "q_redact",
    "q_multimodal_frames", "q_topk",
    "q_band_rewrite", "q_hamming_rewrite", "q_stream_asof")
}
