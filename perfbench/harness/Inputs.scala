package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded inputs of the `curate` workload, generated through the engine's
  * public `ScaleFixture.documents` generator. `perfbench/run.py` caches
  * them by seed (a `_DONE` marker is written last); the other workloads'
  * inputs are written by `perfbench/inputs.py`.
  *
  * Files:
  *  - `docs.parquet` (doc_id, text): planted near-duplicates, plus exact
  *    copies of every `exact_every`-th doc;
  *  - `eval.parquet`: corpus texts under fresh ids, for decontamination;
  *  - `merges.tsv`: a BPE merge table learned from the first `merge_docs`
  *    docs.
  */
object Inputs {

  def generate(spark: SparkSession, o: Harness.Opts): Unit = {
    Files.createDirectories(Paths.get(o.data))
    val n = o.long("docs")
    val base = graft.ScaleFixture.documents(spark, n, boilerplate = false, seed = o.seed)
      .select("doc_id", "text")
    val copies = base.where(col("doc_id") % o.long("exact_every") === 7)
      .withColumn("doc_id", col("doc_id") + lit(n))
    base.unionByName(copies).repartition(o.nproc)
      .write.mode("overwrite").parquet(s"${o.data}/docs.parquet")
    base.where(col("doc_id") % o.long("eval_every") === 3)
      .withColumn("doc_id", col("doc_id") + lit(2 * n))
      .write.mode("overwrite").parquet(s"${o.data}/eval.parquet")
    val sample = spark.read.parquet(s"${o.data}/docs.parquet")
      .where(col("doc_id") < o.long("merge_docs"))
    val merges = graft.ops.Bpe.trainMergesBatched(sample, "text", o.int("merges"))
      .orderBy("merge_rank").collect()
      .map(r => s"${r.getAs[String]("lhs")}\t${r.getAs[String]("rhs")}")
    Files.writeString(Paths.get(o.data, "merges.tsv"), merges.mkString("\n"))
    Files.writeString(Paths.get(o.data, "_DONE"), "")
  }
}
