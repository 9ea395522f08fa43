package lakebench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import graft.operators.{Dedup, IvfIndex, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
final case class Emb(vec_id: Long, embedding: Seq[Float], label: Int)

/** Compute-heavy, no transaction log: each pass runs the public corpus
  * operators over a seeded documents/embeddings directory: exact,
  * normalized and MinHash-LSH dedup, quality and Gopher filters,
  * language id, BM25 search, and brute-force and IVF top-k. The corpus
  * carries planted exact duplicates, normalized duplicates,
  * near-duplicates and known nearest neighbours. Only BM25 touches a
  * lake table: the postings index, built in set-up.
  */
final class CorpusPipeline(spark: SparkSession, seed: Long) extends Workload {
  import CorpusPipeline._

  val round: Int = Pass.size

  private var dir: String = _
  private var docs: Seq[Doc] = Nil
  private var expExact: Set[(Long, Long)] = _
  private var expNormalized: Set[(Long, Long)] = _
  private var nearPairs: Seq[(Long, Long)] = Nil
  private var expBm25: Set[(Long, Long, BigInt)] = _
  private var exactTopK: Map[Long, Seq[(Long, Double)]] = _

  def watched: Seq[Path] = Seq(Paths.get(dir), textIndexDir)
  def probedTable: Option[String] = Some(textIndexDir.toString)

  /** Where the BM25 operator keeps its postings table (relative to the working directory). */
  private def textIndexDir: Path =
    Paths.get("target", "lakework", s"tpidx-${Paths.get(dir).getFileName}").toAbsolutePath

  def setup(setupDir: Path): Unit = {
    dir = setupDir.resolve("corpus").toString
    Files.createDirectories(setupDir)
    generate()
    // fixtures: the BM25 postings table (built when a search is planned)
    // and the IVF centroids
    TextOps.textSearchBm25(spark, dir)
    IvfIndex.centroids(spark, dir)
  }

  /** Two passes: after one, the next pass still ran a quarter slower. */
  def warmUp(): Unit = {
    val warm = new Recorder(spark, tracing = false)
    (0 until 2 * Pass.size).foreach { i =>
      require(op(i).get.run(new Ctx(warm, -1 - i))(), s"warm-up op ${Pass(i)} returned a wrong output")
    }
  }

  private def generate(): Unit = {
    val rnd = new java.util.Random(seed)
    def words(n: Int, lang: String): String = {
      val markers = Markers(lang)
      Seq.fill(n) {
        val x = rnd.nextInt(100)
        if (x < 18) markers(rnd.nextInt(markers.size))
        else if (x < 21) SearchTerms(rnd.nextInt(SearchTerms.size))
        else Vocab(rnd.nextInt(Vocab.size))
      }.mkString(" ")
    }
    val base = (0 until BaseDocs).map { i =>
      val lang = Seq("en", "en", "en", "en", "en", "en", "en", "de", "es", "fr")(rnd.nextInt(10))
      (i.toLong, words(30 + rnd.nextInt(90), lang), lang)
    }
    def pickBase(): (Long, String, String) = base(rnd.nextInt(base.size))
    val exact = (0 until Planted).map { i => val (_, t, l) = pickBase(); (60000L + i, t, l) }
    val normalized = (0 until Planted).map { i =>
      val (_, t, l) = pickBase()
      (70000L + i, t.split(' ').map(w => if (rnd.nextBoolean()) w.toUpperCase(Locale.ROOT) else w)
        .mkString("  "), l)
    }
    val nearSrc = (0 until Planted).map(_ => pickBase())
    val near = nearSrc.zipWithIndex.map { case ((_, t, l), i) => (80000L + i, t + " " + words(3, "en"), l) }
    nearPairs = nearSrc.zip(near).map { case (a, b) => (a._1, b._1) }
    docs = (base ++ exact ++ normalized ++ near).map { case (id, t, l) =>
      Doc(id, t, l, s"src${id % 5}", t.length.toLong) }

    val embs = {
      val vs = Array.fill(Vectors, Dim)(rnd.nextGaussian().toFloat * 0.15f)
      // planted nearest neighbours: vector 10+q sits right next to query q
      (0 until Queries).foreach(q => vs(Queries + q) = vs(q).map(x => x + rnd.nextGaussian().toFloat * 0.005f))
      vs.zipWithIndex.map { case (v, i) => Emb(i.toLong, v.toSeq, i % 8) }.toSeq
    }
    import spark.implicits._
    spark.createDataset(docs).repartition(4).write.parquet(s"$dir/documents.parquet")
    spark.createDataset(embs).repartition(4).write.parquet(s"$dir/embeddings.parquet")

    // expected answers, from the generated rows
    def groups(key: String => String): Set[(Long, Long)] =
      docs.groupBy(d => key(d.text)).values.map(g => (g.map(_.doc_id).min, g.size.toLong)).toSet
    expExact = groups(identity)
    expNormalized = groups(t => t.trim.toLowerCase(Locale.ROOT).replaceAll("\\s+", " "))
    expBm25 = bm25(docs)
    exactTopK = (0 until Queries).map { q =>
      val qv = embs(q).embedding
      q.toLong -> embs.drop(Queries).map(e => e.vec_id -> cosine(qv, e.embedding))
        .sortBy(-_._2).take(TopK)
    }.toMap
  }

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot, na, nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble; nb += b(i) * b(i).toDouble }
    dot / math.sqrt(na * nb)
  }

  /** BM25 as the text operator defines it, in exact integer arithmetic. */
  private def bm25(ds: Seq[Doc]): Set[(Long, Long, BigInt)] = {
    val toks = ds.map(d => d.doc_id -> d.text.trim.toLowerCase(Locale.ROOT).split("\\s+").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val n = BigInt(toks.size)
    val t = BigInt(toks.map(_._2.length.toLong).sum)
    val tf = toks.map { case (id, ws) => id -> ws.groupBy(identity).map { case (w, xs) => w -> xs.length } }
    val df = Bm25Terms.map(w => w -> tf.count(_._2.contains(w))).toMap
    def idfPpm(w: String): BigInt = {
      val r = n * (1 << 20) / df(w)
      val l = r.bitLength
      val half = BigInt(1) << (l - 1)
      BigInt(l - 21) * 1000000 + (r - half) * 1000000 / half
    }
    tf.flatMap { case (id, m) =>
      val hits = Bm25Terms.filter(m.contains)
      if (hits.isEmpty) None
      else {
        val dl = BigInt(m.values.sum)
        val score = hits.map { w =>
          val f = BigInt(m(w))
          idfPpm(w) * 22 * f * t / (f * t * 10 + t * 3 + dl * n * 9)
        }.sum
        Some((id, hits.size.toLong, score))
      }
    }.toSet
  }

  private def operator(kind: String, klass: String, layer: String)(df: => DataFrame)
      (check: (Ctx, Array[Row]) => Boolean): Op =
    Op(kind, klass, layer, ctx => {
      val d = ctx.plan(df)
      val rows = ctx.exec(d.collect())
      () => check(ctx, rows)
    })

  def op(i: Int): Option[Op] = Some(Pass(i % Pass.size) match {
    case k @ "dedup_exact" =>
      operator(k, "operator", "dedup")(Dedup.dedupExact(spark, dir))((_, rows) =>
        rows.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet == expExact)
    case k @ "dedup_normalized" =>
      operator(k, "operator", "dedup")(Dedup.dedupNormalized(spark, dir))((_, rows) =>
        rows.map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies"))).toSet == expNormalized)
    case k @ "dedup_minhash" =>
      operator(k, "operator", "dedup")(Dedup.dedupMinhashLsh(spark, dir)) { (ctx, rows) =>
        val found = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
        ctx.add("dedup.planted_recall", nearPairs.count(found).toDouble / nearPairs.size)
        ctx.add("dedup.recall_count", 1)
        true
      }
    case k @ "text_quality" =>
      operator(k, "operator", "text")(TextOps.textQuality(spark, dir))((_, rows) => rows.length == docs.size)
    case k @ "text_gopher" =>
      operator(k, "operator", "text")(TextOps.textGopherFilter(spark, dir))((_, rows) => rows.length == docs.size)
    case k @ "text_langid" =>
      operator(k, "operator", "text")(TextOps.textLangid(spark, dir))((_, rows) => rows.length == docs.size)
    case k @ "search_bm25" =>
      operator(k, "search", "text")(TextOps.textSearchBm25(spark, dir))((_, rows) =>
        rows.map(r => (r.getLong(0), r.getLong(1), BigInt(r.getLong(2)))).toSet == expBm25)
    case k @ "search_bruteforce" =>
      operator(k, "search", "similarity")(Similarity.simBruteforceTopk(spark, dir)) { (_, rows) =>
        // the exact top-k, with each query's planted neighbour first
        val got = topK(rows)
        got.size == Queries && exactTopK.forall { case (q, exp) =>
          val g = got.getOrElse(q, Nil)
          g.headOption.contains(Queries + q) && g.toSet == exp.map(_._1).toSet
        }
      }
    case k @ "search_ivf" =>
      operator(k, "search", "similarity")(Similarity.simIvf(spark, dir)) { (ctx, rows) =>
        val got = topK(rows)
        val hit = exactTopK.map { case (q, exp) =>
          got.getOrElse(q, Nil).count(exp.map(_._1).contains) }.sum
        ctx.add("similarity.recall_at_k", hit.toDouble / (Queries * TopK))
        ctx.add("similarity.recall_count", 1)
        true
      }
  })

  /** Candidate ids per query, in rank order. */
  private def topK(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Any]("rn").toString.toLong))
      .groupBy(_._1).map { case (q, xs) => q -> xs.sortBy(_._3).map(_._2).toSeq }

  def finalChecks(): Seq[(String, Boolean)] = Nil

  def rows(ops: Seq[OpRecord]): Long = docs.size.toLong * ops.count(r => r.ok && r.kind == Pass.head)
  def rowsName: String = "corpus_docs_per_s"

  def named(ops: Seq[OpRecord], storage: StorageTotals): Seq[Metric] =
    Named.latency("search", ops.filter(r => r.ok && r.klass == "search").map(_.ms))
}

object CorpusPipeline {
  val BaseDocs = 1200
  val Planted = 30
  val Vectors = 2000
  val Dim = 64
  val Queries = 10 // the similarity operators query with vec_id < 10
  val TopK = 5
  val Bm25Terms = Seq("dup", "merge", "vector") // the BM25 operator's query
  val SearchTerms = Seq("merge", "vector", "merge", "vector", "dup")
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to"), "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "es", "y"), "fr" -> Seq("le", "les", "et", "est", "une"))
  val Vocab: IndexedSeq[String] = (Seq("data", "table", "query", "spark", "stream", "batch", "window",
    "join", "scan", "index", "file", "commit", "log", "value", "column", "row", "order", "group",
    "filter", "sort", "hash", "key", "part", "line", "customer", "fast", "slow", "small", "big") ++
    (0 until 300).map(i => s"w$i")).toIndexedSeq

  /** One pass of the corpus operators. */
  val Pass: IndexedSeq[String] = IndexedSeq("dedup_exact", "dedup_normalized", "dedup_minhash",
    "text_quality", "text_gopher", "text_langid", "search_bm25", "search_bruteforce", "search_ivf")
}
