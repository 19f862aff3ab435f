package graft.ops

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Golden BM25 results: the raw score bits and `n_matched` of every
  * returned row, recorded from the tokenize → explode → aggregate plan
  * that preceded the fused term-count kernel. Any rewrite of
  * [[TextAnalysis.bm25Search]] must reproduce them bit for bit, and do it
  * in a handful of jobs with no corpus-wide `Generate`.
  */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus: DataFrame = Seq[(Long, String)](
    (1L, "spark spark spark common common"),
    (2L, "spark common common common common"),
    (3L, "common common common common common"),
    (4L, "nothing relevant here at all"),
    (5L, ""),                                 // zero tokens, empty
    (6L, "!!! ... ???"),                      // zero tokens, non-empty
    (7L, null),                               // null text
    (8L, "Spark SPARK spark-common"),         // mixed-case text
    (9L, "spark common common common common"), // score tie with doc 2
    (10L, "café straße \u212Aelvin common") // non-ASCII; Kelvin sign lowers to k
  ).toDF("doc_id", "text")

  /** `doc_id:rawBits(score):n_matched`, in result order. */
  private def render(df: DataFrame): Seq[String] =
    df.collect().toSeq.map { r =>
      s"${r.getLong(0)}:${java.lang.Double.doubleToRawLongBits(r.getDouble(1))}:${r.getLong(2)}"
    }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private val twoTerms = Seq("1:4611940961182414848:2", "8:4611746368283467776:2",
      "2:4610645657470181376:2", "9:4610645657470181376:2",
      "3:4606546716369272832:1", "10:4602857507200860160:1")

  test("golden: two plain terms") {
    assert(render(TextAnalysis.bm25Search(corpus, "doc_id",
      Seq("spark", "common"))) == twoTerms)
  }

  test("golden: mixed-case, repeated and absent terms") {
    assert(render(TextAnalysis.bm25Search(corpus, "doc_id",
      Seq("SPARK", "Common", "spark", "absent"))) == twoTerms)
  }

  test("golden: a non-ASCII-derived term, truncated to topK") {
    assert(render(TextAnalysis.bm25Search(corpus, "doc_id",
      Seq("kelvin", "common", "spark"), topK = 3)) == Seq(
      "10:4612786203788517376:2", "1:4611940961182414848:2",
      "8:4611746368283467776:2"))
  }

  test("golden: sf0.001 documents, the q_bm25_search terms") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = render(TextAnalysis.bm25Search(docs, "doc_id",
      Seq("spark", "join", "window")))
    assert(rows.size == 20 &&
      md5(rows.mkString(";")) == "36dd46a39311376a136d2da4736519de", rows)
  }

  test("golden: sf0.001 documents, eight terms incl. common and absent ones") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = render(TextAnalysis.bm25Search(docs, "doc_id",
      Seq("the", "Data", "spark", "of", "a", "window", "zzz", "1"), topK = 50))
    assert(rows.size == 50 &&
      md5(rows.mkString(";")) == "40dc1e6af2857f7db35965349169f36b", rows)
  }

  test("no doc has a token: empty result") {
    assert(TextAnalysis.bm25Search(corpus.where("doc_id IN (5, 6, 7)"), "doc_id",
      Seq("spark")).collect().isEmpty)
    assert(TextAnalysis.bm25Search(corpus.limit(0), "doc_id", Seq("spark"))
      .collect().isEmpty)
  }

  test("one call runs at most 4 jobs and no Generate") {
    // a cached multi-partition corpus, as a serving process holds it
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(4).cache()
    docs.count()
    val sc = spark.sparkContext
    var jobs = 0
    val nodes = mutable.Set.empty[String]
    def walk(p: SparkPlanInfo): Unit = { nodes += p.nodeName; p.children.foreach(walk) }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => walk(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => walk(u.sparkPlanInfo)
        case _ =>
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      TextAnalysis.bm25Search(docs, "doc_id", Seq("spark", "join", "window")).collect()
      ListenerBusDrain.drain(sc)
    } finally { sc.removeSparkListener(listener); docs.unpersist() }
    assert(jobs <= 4, s"$jobs jobs")
    assert(!nodes.exists(_.startsWith("Generate")), nodes.toSeq.sorted.mkString(", "))
  }
}
