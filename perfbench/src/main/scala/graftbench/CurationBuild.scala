package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Retrieval, Similarity, TextAnalysis}

/** `curation-build`: one batch pass over a seeded corpus with planted
  * near-duplicate families (one hot star of hundreds, long chains, many
  * small stars) and seeded clustered embeddings — quality verdict,
  * MinHash-LSH + connected components, k-NN graph + PageRank, the
  * at-rest IVF-PQ and BM25 stores, and a BPE trainer. Iterative driver
  * loops, per-round checkpoints and many small jobs dominate; `raster`
  * is idle. The seeded family shapes set the CC rounds and bucket skew.
  */
final class CurationBuild(spark: SparkSession, t: Tracer, dir: String, seed: Long,
                          wrongExpected: Boolean)
    extends Workload(spark, t, dir, seed, wrongExpected) {
  import CurationBuild._
  import spark.implicits._

  private var corpus: Gen.Corpus = _
  private var emb: Seq[(Long, Array[Float])] = _
  private var pairs: DataFrame = _
  private var shingles: Map[Long, Set[String]] = _
  private var nPairs = 0
  private var recall = 0.0

  def unitsPerStep: Double = Docs / 1000.0

  def prepare(): Unit = {
    corpus = Gen.corpus(seed, Docs, Hot, Chains, ChainLen, SmallFamilies, Junk)
    shingles = corpus.docs.map { case (id, text) =>
      id -> text.split(" ").sliding(3).map(_.mkString(" ")).toSet }.toMap
    corpus.docs.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(path("documents"))
    emb = Gen.embeddings(seed + 1, Vectors, Dims, Clusters, 0.25)
    emb.toDF("vec_id", "embedding").repartition(4)
      .write.mode("overwrite").parquet(path("embeddings"))
    corpus.families.flatten.toDF("doc_id").write.mode("overwrite").parquet(path("families"))
  }

  private def tooShort(id: Long): Boolean = shingles(id).size < 3
  private def jaccard(a: Long, b: Long): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  def step(i: Int): Unit = {
    val docs = readParquet("documents")
    val vecs = readParquet("embeddings")
    val junk = corpus.junk.toSeq

    op("llm.quality") {
      val r = t.query("llm", "quality")(TextAnalysis.qualityVerdict(docs)) { df =>
        df.agg(count(lit(1)), sum($"keep").cast("long"),
          sum(when($"doc_id".isin(junk: _*), $"keep").otherwise(0)).cast("long"))
      }.head
      // every planted junk document is dropped
      r.getLong(2) == 0L && same("quality", Seq(r.getLong(0), r.getLong(1)))
    }
    op("llm.minhash") {
      var census: DataFrame = null
      val got = t.query("llm", "minhash") {
        val (p, c) = Dedup.minhashLshWithCensus(docs, "doc_id", "text")
        pairs = p; census = c
        p
      }(_.crossJoin(census.agg(sum("n_hot").cast("long").as("n_hot"))))
      // every reported pair is a true near-duplicate: its Jaccard equals
      // the exact one over the documents' distinct word 3-shingles and
      // clears the threshold; the planted hot family overflows the cap
      nPairs = got.length
      got.nonEmpty && got.head.getLong(3) > 0L && got.forall { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val j = r.getDouble(2)
        a != b && j >= 0.5 && (tooShort(a) || tooShort(b) || j == jaccard(a, b))
      } && same("minhash", Seq(got.length))
    }
    op("llm.cc") {
      val fam = readParquet("families")
      val label = t.query("llm", "cc")(Dedup.connectedComponents(pairs.select("id_a", "id_b"))) {
        _.join(fam, "doc_id").select("doc_id", "cluster_id")
      }.map(r => r.getLong(0) -> r.getLong(1)).toMap
      // LSH is approximate, so the check is a recall floor: planted
      // near-duplicate pairs whose two documents share a component
      recall = corpus.planted.count { case (a, b) =>
        label.get(a).exists(l => label.get(b).contains(l)) }.toDouble / corpus.planted.size
      recall >= (if (wrongExpected) 1.01 else MinRecall) && same("cc", Seq(label.size))
    }
    var knn: DataFrame = null
    op("llm.knn") {
      val got = t.query("llm", "knn") {
        knn = Similarity.knnGraph(vecs, k = K, planes = 4)
        knn
      }(_.agg(count(lit(1)), max("rank"), min("cosine"), max("cosine"),
        sum(($"vec_id" === $"nbr_id").cast("long")))).head
      got.getLong(0) > 0 && got.getLong(0) <= Vectors.toLong * K && got.getInt(1) <= K &&
        got.getDouble(2) >= -1.0 - 1e-9 && got.getDouble(3) <= 1.0 + 1e-9 &&
        got.getLong(4) == 0L && same("knn", got.toSeq)
    }
    op("llm.pagerank") {
      val edges = knn.select($"vec_id".as("src"), $"nbr_id".as("dst"))
      val got = t.query("llm", "pagerank")(Similarity.pageRank(edges, rounds = PageRankRounds)) {
        _.agg(count(lit(1)), min("r_fp"), sum("r_fp"))
      }.head
      // every node keeps at least the teleport share floor(0.15 * 2^20)
      got.getLong(0) > 0 && got.getLong(1) >= 157286L && same("pagerank", got.toSeq)
    }
    op("llm.ingest_ivfpq") {
      t.eager("llm", "ingest_ivfpq")(Similarity.ivfPqIngest(vecs, path("ivfpq")))
      Workload.dirBytes(path("ivfpq"))._1 > 0
    }
    op("llm.ingest_bm25") {
      t.eager("llm", "ingest_bm25")(Retrieval.bm25IngestAtRest(docs, "doc_id", "text", path("bm25")))
      Workload.dirBytes(path("bm25"))._1 > 0
    }
    op("llm.bpe") {
      val got = t.query("llm", "bpe")(Dedup.bpeTrain(docs, "doc_id", "text", rounds = BpeRounds)) {
        _.select("round", "lhs", "rhs", "pair_count").orderBy("round")
      }
      // a merge can only create pairs as rare as itself: counts never rise
      val counts = got.map(_.getAs[Number]("pair_count").longValue).toSeq
      got.length == BpeRounds && counts == counts.sorted.reverse && same("bpe", Workload.row(got))
    }
  }

  /** Store layout and dedup/ANN quality, read from the last pass. */
  override def extras(): Map[String, Double] = {
    val (files, bytes) = Seq("ivfpq", "bm25").map(d => Workload.dirBytes(path(d)))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val inBytes = Seq("documents", "embeddings").map(d => Workload.dirBytes(path(d))._2).sum

    // candidates: pairs sharing a band bucket; buckets over the
    // operator's hub cap (64) contribute a star, as the operator pairs them
    val buckets = Dedup.bandedKeys(readParquet("documents"), "doc_id", "text")
      .groupBy("band", "bkey").agg(count(lit(1)).as("n"), min("id").as("hub"),
        collect_list("id").as("ids"))
    val inBucket = buckets.filter($"n" <= 64).select(explode($"ids").as("a"), $"ids")
      .select($"a", explode($"ids").as("b"))
    val stars = buckets.filter($"n" > 64).select($"hub".as("a"), explode($"ids").as("b"))
    val candidates = inBucket.unionByName(stars).filter($"a" < $"b").distinct().count()

    // ANN recall: IVF-PQ top-k against exact L2 top-k on the driver;
    // a query is a stored vector, and the store leaves out the query's
    // own id, so the exact top-k does too
    val queries = emb.take(AnnQueries)
    val approx = Similarity.ivfPqTopKAtRest(spark, path("ivfpq"),
      queries.toDF("qid", "qvec"), topK = K, nprobe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect().groupBy(_._1)
    val annRecall = queries.map { case (qid, q) =>
      val exact = emb.filter(_._1 != qid).sortBy { case (id, v) =>
        (v.indices.map(d => { val e = (v(d) - q(d)).toDouble; e * e }).sum, id) }
        .take(K).map(_._1).toSet
      approx.getOrElse(qid, Array.empty).map(_._2).count(exact.contains).toDouble / K
    }
    Map(
      "llm.store_files" -> files.toDouble,
      "llm.store_bytes_per_input_byte" -> bytes.toDouble / math.max(inBytes, 1L),
      "llm.lsh_yield" -> nPairs.toDouble / math.max(candidates, 1L),
      "llm.dedup_recall" -> recall,
      "llm.ann_recall" -> annRecall.sum / annRecall.size)
  }
}

object CurationBuild {
  val Docs = 1200
  val Hot = (120, 180)
  val Chains = 3
  val ChainLen = (30, 50)
  val SmallFamilies = 40
  val Junk = 30
  val Vectors = 1000
  val Dims = 64
  val Clusters = 12
  val K = 5
  val BpeRounds = 3
  val PageRankRounds = 4
  val AnnQueries = 20
  /** Planted pairs that must end in one component (see the cc check). */
  val MinRecall = 0.9
}
