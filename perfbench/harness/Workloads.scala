package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import graft.etl.{Pipeline, StockEtl}
import graft.ops.{Curate, Dedup, Sampling, Similarity, TextAnalysis}
import graft.sinks.{ShardWriter, WarehouseLoad}
import graft.sources.{CsvConstituentSource, ParquetBarSource}

/** One workload: untimed set-up and warm-up, then one operation that the
  * harness repeats. `composed` goes through the engine's public entry
  * points as a user would; `decomposed` calls the same public functions in
  * the same order, each inside a named span. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  /** One operation; the result must hold `items`, the input units it
    * processed. */
  def composed(i: Int): Map[String, Any]
  def decomposed(i: Int, t: Trace): Map[String, Any]
  def afterOp(i: Int): Unit = ()
  def minOps: Int
  /** Output checks, run after the timed loop: name, ok, detail. */
  def checks(): Seq[Map[String, Any]]
  /** Raw outputs that `run.py` checks against its own recomputation. */
  def extra(): Map[String, Any] = Map.empty
}

object Workload {
  def apply(spark: SparkSession, o: Harness.Opts): Workload = o.workload match {
    case "etl_backfill" => new EtlWorkload(spark, o, daily = false)
    case "etl_daily" => new EtlWorkload(spark, o, daily = true)
    case "curate" => new CurateWorkload(spark, o)
    case "search" => new SearchWorkload(spark, o)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def check(name: String, ok: Boolean, detail: Any = ""): Map[String, Any] =
    Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally walk.close()
    }
  }

  /** Bytes of the regular files under `path` (0 when absent). */
  def treeBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally walk.close()
    }
  }

  def persistCount(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }
}

import Workload._

/** `etl_backfill`: one `Pipeline.run` over the whole bar history into an
  * empty warehouse. `etl_daily`: a warehouse pre-loaded with a history,
  * then one-day `Pipeline.run`s on consecutive trading days. */
final class EtlWorkload(spark: SparkSession, o: Harness.Opts, daily: Boolean)
    extends Workload {
  private val days: IndexedSeq[java.sql.Date] = {
    val src = scala.io.Source.fromFile(s"${o.data}/days.txt")
    try src.getLines().filter(_.nonEmpty).map(java.sql.Date.valueOf).toIndexedSeq
    finally src.close()
  }
  private val constituents = new CsvConstituentSource(s"${o.data}/constituents.csv")
  private val bars = new ParquetBarSource(s"${o.data}/bars.parquet")
  private val history = o.int("history_days")
  private val root = s"${o.work}/etl"
  private var nextDay = history
  private var lastWarehouse = ""
  private val loads = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def dirs(i: Int) =
    if (daily) (s"$root/stage", s"$root/warehouse")
    else (s"$root/op$i/stage", s"$root/op$i/warehouse")

  /** The next op's window: a fresh day (daily) or the whole history. */
  private def window(): (java.sql.Date, java.sql.Date) =
    if (!daily) (days(0), days(history - 1))
    else {
      require(nextDay < days.length, s"out of generated trading days (${days.length})")
      nextDay += 1
      (days(nextDay - 1), days(nextDay - 1))
    }

  private def record(i: Int, w: (java.sql.Date, java.sql.Date), loaded: Long,
      wh: String): Map[String, Any] = {
    lastWarehouse = wh
    val l = Map("op" -> i, "start" -> w._1.toString, "end" -> w._2.toString,
      "loaded" -> loaded, "warehouse" -> wh)
    loads += l
    l + ("items" -> loaded)
  }

  def prepare(): Unit = {
    deleteTree(root)
    if (daily) {
      val (stage, wh) = dirs(-1)
      val r = Pipeline.run(spark, constituents, bars, days(0), days(history - 1), stage, wh)
      loads.clear()
      record(-1, (days(0), days(history - 1)), r.loadedRows, wh)
    }
  }

  def warmup(): Unit =
    if (daily) (1 to o.int("warmup_ops")).foreach(k => composed(-1 - k))
    else {
      val (stage, wh) = (s"$root/warmup/stage", s"$root/warmup/warehouse")
      Pipeline.run(spark, constituents, bars, days(0), days(o.int("warmup_days") - 1), stage, wh)
      deleteTree(s"$root/warmup")
    }

  def composed(i: Int): Map[String, Any] = {
    val w = window()
    val (stage, wh) = dirs(i)
    val r = Pipeline.run(spark, constituents, bars, w._1, w._2, stage, wh)
    record(i, w, r.loadedRows, wh)
  }

  /** `Pipeline.run`, stage by stage (same calls, same order). */
  def decomposed(i: Int, t: Trace): Map[String, Any] = {
    val w = window()
    val (stageDir, wh) = dirs(i)
    val before = treeBytes(wh)
    val raw = t.span(i, "sources.fetch") {
      Pipeline.retry(2, 100L) {
        val df = constituents.fetch(spark)
        df.limit(1).count()
        df
      }
    }
    val symbols = t.span(i, "etl.clean") {
      val s = StockEtl.cleanSymbols(raw)
      require(s.limit(1).count() > 0, "no valid symbols extracted")
      s
    }
    val fetched = t.span(i, "sources.fetch") {
      Pipeline.retry(2, 100L) {
        val df = bars.fetch(spark, symbols, w._1, w._2)
        df.limit(1).count()
        df
      }
    }
    val enriched = StockEtl.enrich(StockEtl.normalize(fetched))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      t.span(i, "etl.enrich") {
        val q = Pipeline.retry(2, 100L)(StockEtl.qualitySummary(enriched).head())
        require(q.getAs[Long]("n_rows") > 0, "no bars fetched for any symbol")
      }
      val stagePath = s"$stageDir/stock_stage"
      t.span(i, "etl.stage_csv") {
        StockEtl.writeCsvStage(StockEtl.consolidate(enriched), stagePath)
      }
      val loaded = t.span(i, "sinks.append") {
        WarehouseLoad.appendAndPurge(spark, stagePath, wh)
      }
      t.span(i, "sinks.verify") {
        val v = WarehouseLoad.verify(spark, wh)
        require(v.getAs[Long]("total_rows") >= loaded, "post-load verify")
      }
      record(i, w, loaded, wh) + ("warehouse_bytes_added" -> (treeBytes(wh) - before))
    } finally enriched.unpersist()
  }

  /** Backfill ops each own a warehouse; keep only the newest for checks. */
  override def afterOp(i: Int): Unit =
    if (!daily) (0 until i).foreach(k => deleteTree(s"$root/op$k"))

  def minOps: Int = if (o.trace) 3 else 2

  def checks(): Seq[Map[String, Any]] = Seq(
    check("etl.ops_loaded_rows", loads.forall(_("loaded").asInstanceOf[Long] > 0),
      loads.map(_("loaded")).mkString(",")))

  override def extra(): Map[String, Any] = {
    val v = WarehouseLoad.verify(spark, lastWarehouse)
    // the Close_Change checksum the DuckDB recomputation must reproduce
    val cs = spark.read.parquet(lastWarehouse)
      .agg(sum(round(col("Close_Change") * 10000).cast(LongType))).head().get(0)
    Map("loads" -> loads.toList, "warehouse" -> lastWarehouse,
      "warehouse_bytes" -> treeBytes(lastWarehouse),
      "verify" -> Map(
        "total_rows" -> v.getAs[Long]("total_rows"),
        "unique_symbols" -> v.getAs[Long]("unique_symbols"),
        "earliest_date" -> String.valueOf(v.get(2)),
        "latest_date" -> String.valueOf(v.get(3))),
      "close_change_checksum" -> cs)
  }
}

/** `curate`: `Curate.run(report = true)`, then `writeTrainingShards` and
  * `verifyShards`, over a seeded corpus with planted duplicates. */
final class CurateWorkload(spark: SparkSession, o: Harness.Opts) extends Workload {
  private val out = s"${o.work}/curate/shards"
  /** `Curate.run`'s default packing budget, used for the shards too. */
  private val packBudget = 2048L
  private var docs: DataFrame = _
  private var evalSet: DataFrame = _
  private var merges: Seq[(String, String)] = Nil
  private val results = mutable.ArrayBuffer.empty[Map[String, Any]]

  def prepare(): Unit = {
    docs = spark.read.parquet(s"${o.data}/docs.parquet")
    evalSet = spark.read.parquet(s"${o.data}/eval.parquet")
    val src = scala.io.Source.fromFile(s"${o.data}/merges.tsv")
    merges = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(a, b) = l.split("\t", 2); (a, b)
    }.toList finally src.close()
  }

  def warmup(): Unit = {
    val full = docs
    docs = full.where(col("doc_id") < o.long("warmup_docs"))
    try composed(-1) finally { docs = full; results.clear() }
  }

  private def report(r: Curate.CurationReport): List[Long] = List(r.input,
    r.afterExactDedup, r.afterNearDedup, r.afterDecontamination, r.afterQualityFilter)

  private def verified(i: Int, counts: List[Long]): Map[String, Any] = {
    val v = ShardWriter.verifyShards(spark, out).collect()
    val r = Map("op" -> i, "counts" -> counts,
      "shards" -> v.length,
      "shards_ok" -> (v.nonEmpty && v.forall(_.getAs[Boolean]("ok"))),
      "shard_rows" -> v.map(_.getAs[Long]("n_rows")).sum)
    spark.catalog.clearCache()
    results += r
    r + ("items" -> counts.head)
  }

  def composed(i: Int): Map[String, Any] = {
    val c = Curate.run(docs, "doc_id", "text", evalSet, report = true)
    Curate.writeTrainingShards(c.docs, "doc_id", "text", merges, packBudget, out)
    verified(i, report(c.report))
  }

  /** `Curate.run` (report mode, default parameters) stage by stage, then
    * `writeTrainingShards` split into encode+pack and the shard write. The
    * split/pack and encode outputs are materialized so each span owns its
    * work. */
  def decomposed(i: Int, t: Trace): Map[String, Any] = {
    val (id, text) = ("doc_id", "text")
    val (exact, nExact, input) = t.span(i, "ops.exact_dedup") {
      val n = docs.count()
      val (p, c) = persistCount(Dedup.dropExactDuplicates(docs, id, text))
      (p, c, n)
    }
    val (near, nNear) = t.span(i, "ops.near_dedup") {
      persistCount(Dedup.dropNearDuplicates(exact, id, text, minJaccard = 0.5, maxDocFreq = 20L))
    }
    val (clean, nClean) = t.span(i, "ops.decontaminate") {
      val contaminated = Dedup.decontaminate(near, evalSet, id, text, minShared = 3L)
        .select(col("doc_id").as(id))
      persistCount(near.join(contaminated, Seq(id), "left_anti"))
    }
    val (kept, nKept) = t.span(i, "ops.quality") {
      val scored = clean
        .withColumn("__toks", TextAnalysis.tokens(lower(col(text))))
        .withColumn("quality_score", TextAnalysis.qualityScoreFromTokens(col("__toks")))
      persistCount(scored.where(col("quality_score") >= 0.3))
    }
    val (packed, _) = t.span(i, "ops.split_pack") {
      val split = Sampling.splitAssign(kept, id,
        Seq(("train", 9000), ("val", 500), ("test", 500)))
      persistCount(Sampling.packSequences(
        split.withColumn("__n_tokens", size(col("__toks")).cast(LongType)),
        id, "__n_tokens", budget = packBudget, buckets = 32,
        bucketSalt = Some(col("split"))).drop("__n_tokens", "__toks"))
    }
    Seq(exact, near, clean).foreach(_.unpersist(false))
    val encoded = t.span(i, "ops.bpe_encode") {
      val enc = Curate.tokenizePackCached(packed, id, text, merges, packBudget)
      (enc, persistCount(enc.df)._1)
    }
    t.span(i, "sinks.shard_write") {
      ShardWriter.writeShards(encoded._2.withColumn("seq_id",
        col("pack_bucket") * lit(1099511627776L) + col("pack_bin")), out, "seq_id", 8)
      encoded._1.release()
    }
    t.span(i, "sinks.shard_verify")(verified(i, List(input, nExact, nNear, nClean, nKept)))
  }

  def minOps: Int = if (o.trace) 3 else 2

  def checks(): Seq[Map[String, Any]] = Seq(
    check("curate.stage_counts_stable",
      results.nonEmpty && results.map(_("counts")).distinct.size == 1,
      results.map(_("counts")).distinct.mkString(" | ")),
    check("curate.shard_rows_stable", results.map(_("shard_rows")).distinct.size == 1,
      results.map(_("shard_rows")).distinct.mkString(",")),
    check("curate.verify_shards_ok", results.forall(_("shards_ok") == true),
      results.map(r => s"${r("shards")}:${r("shards_ok")}").mkString(",")))

  override def extra(): Map[String, Any] = Map("results" -> results.toList)
}

/** `search`: a single client interleaving exact cosine top-10, IVF top-10
  * and BM25 top-20 requests over cached corpora. */
final class SearchWorkload(spark: SparkSession, o: Harness.Opts) extends Workload {
  private val (id, vec) = ("vec_id", "embedding")
  private val k = 10
  private val (lists, nprobe) = (16, 2)
  private var vecs: DataFrame = _
  private var docs: DataFrame = _
  private var index: Similarity.IvfIndex = _
  private val queries: IndexedSeq[(Seq[Double], Seq[String])] = {
    val src = scala.io.Source.fromFile(s"${o.data}/queries.tsv")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(v, terms) = l.split("\t", 2)
      (v.split(",").toSeq.map(_.toDouble), terms.split(" ").toSeq)
    }.toIndexedSeq finally src.close()
  }
  /** (request type, query index) → results of every execution. */
  private val seen = mutable.LinkedHashMap.empty[(String, Int), mutable.ArrayBuffer[Seq[String]]]
  private val candidateFraction = mutable.ArrayBuffer.empty[Double]

  private def remember(kind: String, q: Int, rows: Array[Row], cols: Int*): Unit =
    seen.getOrElseUpdate((kind, q), mutable.ArrayBuffer.empty) +=
      rows.toSeq.map(r => cols.map(c => String.valueOf(r.get(c))).mkString(":"))

  def prepare(): Unit = {
    Option(vecs).foreach(_.unpersist(true))
    Option(docs).foreach(_.unpersist(true))
    vecs = persistCount(spark.read.parquet(s"${o.data}/embeddings.parquet"))._1
    docs = persistCount(spark.read.parquet(s"${o.data}/docs.parquet"))._1
    index = Similarity.trainIvfCentroids(vecs, id, vec, k = lists)
  }

  private def exact(q: Int) = Similarity.bruteForceTopK(vecs, id, vec, queries(q)._1, k)
    .select(id, "cos_sim").collect()
  private def ivf(q: Int) =
    Similarity.ivfTopK(vecs, id, vec, index, queries(q)._1, k, nprobe).collect()
  private def bm25(q: Int) =
    TextAnalysis.bm25Search(docs, "doc_id", queries(q)._2, "text", topK = 20).collect()

  def warmup(): Unit = (1 to o.int("warmup_ops")).foreach(k => composed(-k))

  /** Rounds take the queries in turn, warm-up rounds included, so the timed
    * rounds spread over as many different queries as they can. */
  private var rounds = 0
  private def nextQuery(): Int = { rounds += 1; (rounds - 1) % queries.length }

  def composed(i: Int): Map[String, Any] = {
    val q = nextQuery()
    val (e, te) = Harness.seconds(exact(q))
    val (v, tv) = Harness.seconds(ivf(q))
    val (b, tb) = Harness.seconds(bm25(q))
    remember("exact", q, e, 0, 1)
    remember("ivf", q, v, 0)
    remember("bm25", q, b, 0, 1)
    Map("items" -> 3L, "query" -> q, "knn_exact_s" -> te, "knn_ivf_s" -> tv, "bm25_s" -> tb)
  }

  /** The same three requests; IVF split into its assignment (candidate
    * selection) and the exact top-k over the candidates. */
  def decomposed(i: Int, t: Trace): Map[String, Any] = {
    val q = nextQuery()
    val e = t.span(i, "ops.knn_exact")(exact(q))
    val (cands, nCand) = t.span(i, "ops.ivf_assign") {
      val probes = index.probes(queries(q)._1, nprobe)
      persistCount(Similarity.ivfAssign(vecs, id, vec, index)
        .where(col("centroid_id").isin(probes: _*)))
    }
    val v = t.span(i, "ops.knn_ivf") {
      try Similarity.bruteForceTopK(cands, id, vec, queries(q)._1, k).collect()
      finally cands.unpersist(false)
    }
    val b = t.span(i, "ops.bm25")(bm25(q))
    remember("exact", q, e, 0, 1)
    remember("ivf", q, v, 0)
    remember("bm25", q, b, 0, 1)
    candidateFraction += nCand.toDouble / o.long("vectors")
    Map("items" -> 3L, "query" -> q, "candidates" -> nCand, "vectors" -> o.long("vectors"))
  }

  /** Enough rounds that every query has run and at least one repeated. */
  def minOps: Int = math.max(if (o.trace) 3 else 1, queries.length + 1 - o.int("warmup_ops"))

  def checks(): Seq[Map[String, Any]] = {
    val unstable = seen.collect { case ((kind, q), rs) if rs.distinct.size > 1 => s"$kind#$q" }
    val repeated = seen.values.count(_.size > 1)
    Seq(
      check("search.repeat_identical", unstable.isEmpty && repeated > 0,
        s"repeated=$repeated unstable=${unstable.mkString(",")}"),
      check("search.all_queries_ran", seen.keySet.map(_._2).size == queries.length,
        seen.keySet.map(_._2).size))
  }

  override def extra(): Map[String, Any] = Map(
    "queries" -> queries.map(_._1),
    "results" -> seen.map { case ((kind, q), rs) =>
      Map("kind" -> kind, "query" -> q, "rows" -> rs.head) }.toList,
    "candidate_fraction" -> candidateFraction.toList)
}
