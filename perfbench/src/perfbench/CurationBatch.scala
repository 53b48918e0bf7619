package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, IvfIndex, TextAnalysis}

/** `curation_batch`: one op is one curation pass over a seeded corpus —
  * quality filter, exact-text dedup, minhash + LSH near-duplicate pairs,
  * containment pairs, then an IVF index build and top-10 queries.
  *
  * The corpus is `copies` token-bijection copies of a seeded base corpus:
  * copy `c` renames every content word through its own vocabulary, and
  * no two stopwords are ever adjacent, so every word 3-shingle and every
  * 8-character gram holds a copy-specific word. Within-copy similarity is
  * kept exactly and cross-copy similarity is zero, so the true pairs are
  * the base corpus's planted pairs times `copies`. The base corpus plants
  * low-quality docs, exact duplicates, near duplicates (1-2 substituted
  * words) and excerpts (50-65% of a source doc). */
object CurationBatch extends Workload {
  val baseDocs = 810
  val copies = 2
  val vocab = 4000
  val shingle = 3
  val lshThreshold = 0.7
  val dim = 32
  val vecsPerCopy = 800
  val queries = 40
  val minRecall = 0.9
  val minAnnRecall = 0.8
  val stopwords = Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")

  /** A base doc: its tokens as vocabulary indexes (negative = stopword
    * index - 1) and the doc it was derived from, if planted. */
  private final case class Doc(id: Int, toks: Array[Int], kind: String, source: Int)

  private final class Corpus(val docs: Seq[Doc], val truthLsh: Set[(Int, Int)],
      val truthContain: Set[(Int, Int)], val family: Map[Int, Int],
      val kept: Int, val survivors: Int, val jaccard: ((Int, Int)) => Double)

  def run(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val corpus = generate(ctx.seed)
    val (vecs, qs, annTruth) = vectors(ctx.seed)
    val dir = ctx.repeatSetup(3) { root =>
      writeInputs(spark, ctx.seed, corpus, vecs, qs, root)
      root
    }
    val tr = ctx.tracer
    def pass(): Outputs = {
      val docs = spark.read.parquet(dir + "docs")
      val kept = tr.layer("text", "quality") {
        TextAnalysis.qualityFilter(docs, "text", 0.5).select("doc_id", "text").localCheckpoint()
      }
      val deduped = tr.layer("dedup", "exact") {
        Dedup.exactText(kept, "text", "doc_id").localCheckpoint()
      }
      val pairs = tr.layer("dedup", "lsh") {
        val p = Dedup.minHashLsh(deduped, "text", "doc_id", shingle, 64, 16, lshThreshold)
        val out = p.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
        p.unpersist()
        out
      }
      val contained = tr.layer("dedup", "containment") {
        Dedup.containmentPairs(deduped, "text", "doc_id").select("inner_id", "outer_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      }
      tr.layer("ivf", "build") {
        IvfIndex.writeIndex(spark.read.parquet(dir + "vecs"), "embedding", "vec_id",
          dir + "ivf", nlist = 8, iters = 2, seed = 7L)
      }
      val topk = tr.layer("ivf", "topk") {
        IvfIndex.loadTopK(spark, dir + "ivf", spark.read.parquet(dir + "queries"),
          "embedding", "vec_id", k = 10, nprobe = 4)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
      Outputs(kept, deduped, pairs.toSeq, contained.toSeq, topk)
    }
    def check(o: Outputs): Boolean = checkPass(ctx, corpus, o, annTruth, dir)
    ctx.warmup(check(pass()))
    val docs = corpus.docs.size.toLong * copies
    ctx.runGroups(_ => ctx.checkedOp("curation.pass", docs)(pass())(check))
  }

  /** What one pass produced, checked after the op's clock stops. */
  private final case class Outputs(kept: DataFrame, deduped: DataFrame,
      pairs: Seq[(Long, Long)], contained: Seq[(Long, Long)], topk: Map[Long, Set[Long]])

  private def checkPass(ctx: Ctx, corpus: Corpus, o: Outputs,
      annTruth: Map[Long, Set[Long]], dir: String): Boolean = {
    import o._
    val keptN = kept.count()
    val survN = deduped.count()
    val ok = Seq(
      ctx.check(s"quality filter kept $keptN docs, expected ${corpus.kept * copies}")(
        keptN == corpus.kept.toLong * copies),
      ctx.check(s"exact dedup kept $survN docs, expected ${corpus.survivors * copies}")(
        survN == corpus.survivors.toLong * copies),
      checkPairs(ctx, "minhash", pairs, corpus.truthLsh, corpus,
        (a, b) => corpus.jaccard((a, b)) >= lshThreshold - 1e-9),
      checkPairs(ctx, "containment", contained, corpus.truthContain, corpus,
        (_, _) => true),
      {
        val recall = annTruth.map { case (q, truth) =>
          (topk.getOrElse(q, Set.empty[Long]) intersect truth).size.toDouble
        }.sum / (annTruth.size * 10)
        ctx.exact("ann_recall_at_10") = recall
        ctx.check(s"IVF recall@10 $recall below $minAnnRecall")(recall >= minAnnRecall)
      })
    ctx.exact("dedup.verified_pairs") = pairs.length
    ctx.exact("dedup.containment_pairs") = contained.length
    if (ctx.tracer.enabled)
      ctx.exact("ivf.cell_imbalance") = IvfIndex.cellImbalance(ctx.spark, dir + "ivf")
    kept.unpersist()
    deduped.unpersist()
    ok.forall(identity)
  }

  /** Pairs must fall inside one copy and one planted family and pass
    * `valid` on the base ids; recall is over the planted true pairs. */
  private def checkPairs(ctx: Ctx, what: String, got: Seq[(Long, Long)],
      truth: Set[(Int, Int)], c: Corpus, valid: (Int, Int) => Boolean): Boolean = {
    def base(id: Long) = (id % 1000000L).toInt
    val bad = got.filterNot { case (a, b) =>
      a / 1000000L == b / 1000000L && c.family(base(a)) == c.family(base(b)) &&
        valid(math.min(base(a), base(b)), math.max(base(a), base(b)))
    }
    val found = got.map { case (a, b) =>
      (a / 1000000L, math.min(base(a), base(b)), math.max(base(a), base(b)))
    }.toSet
    val hits = truth.toSeq.map(p => (0 until copies).count(cp => found((cp.toLong, p._1, p._2)))).sum
    val recall = if (truth.isEmpty) 1.0 else hits.toDouble / (truth.size * copies)
    if (what == "minhash") ctx.exact("dedup_pair_recall") = recall
    ctx.check(s"$what: ${bad.size} pairs outside the planted families " +
      s"(first ${bad.take(3).mkString(",")})")(bad.isEmpty) &&
      ctx.check(s"$what recall $recall below $minRecall")(recall >= minRecall)
  }

  private def generate(seed: Long): Corpus = {
    val rng = new Random(seed)
    // Zipf-like draw over the content vocabulary.
    def word(): Int = math.min(vocab - 1, (math.pow(rng.nextDouble(), 2.0) * vocab).toInt)
    def text(n: Int, withStop: Boolean): Array[Int] = {
      val out = new Array[Int](n)
      (0 until n).foreach { i =>
        out(i) =
          if (withStop && i > 0 && out(i - 1) >= 0 && rng.nextDouble() < 0.3)
            -1 - rng.nextInt(stopwords.size)
          else word()
      }
      out
    }
    // The first docs are sources; after them every block of 100 holds
    // exactly the stated mix in seeded order, so every seed plants the
    // same number of each kind.
    val block = Seq.fill(70)("normal") ++ Seq.fill(8)("low") ++ Seq.fill(5)("exact") ++
      Seq.fill(10)("near") ++ Seq.fill(7)("excerpt")
    val kinds = Seq.fill(baseDocs - 800)("normal") ++ (0 until 8).flatMap(_ => rng.shuffle(block))
    val docs = mutable.ArrayBuffer.empty[Doc]
    val normal = mutable.ArrayBuffer.empty[Int]
    (0 until baseDocs).foreach { id =>
      val kind = kinds(id)
      val src = if (normal.isEmpty) -1 else normal(rng.nextInt(normal.size))
      val d =
        if (kind == "normal") Doc(id, text(40 + rng.nextInt(50), withStop = true), "normal", -1)
        else if (kind == "low") Doc(id, text(4 + rng.nextInt(5), withStop = false), "low", -1)
        else if (kind == "exact") Doc(id, docs(src).toks.clone(), "exact", src)
        else if (kind == "near") {
          val t = docs(src).toks.clone()
          (0 until 1 + rng.nextInt(2)).foreach { _ =>
            val content = t.indices.filter(t(_) >= 0)
            t(content(rng.nextInt(content.size))) = word()
          }
          Doc(id, t, "near", src)
        } else {
          val s = docs(src).toks
          val len = math.max(30, (s.length * (0.5 + 0.15 * rng.nextDouble())).toInt)
          val from = rng.nextInt(s.length - len + 1)
          Doc(id, s.slice(from, from + len), "excerpt", src)
        }
      docs += d
      if (d.kind == "normal") normal += id
    }
    val family = docs.map(d => d.id -> (if (d.source < 0) d.id else d.source)).toMap
    val byText = docs.filter(_.kind != "low").groupBy(_.toks.toSeq)
    val survivorIds = byText.values.map(_.map(_.id).min).toSet
    val shingles: Map[Int, Set[Seq[Int]]] = docs.filter(d => survivorIds(d.id))
      .map(d => d.id -> d.toks.toSeq.sliding(shingle).toSet).toMap
    def jac(p: (Int, Int)): Double = {
      val (a, b) = (shingles(p._1), shingles(p._2))
      (a intersect b).size.toDouble / (a union b).size
    }
    val fams = survivorIds.groupBy(family)
    val famPairs = fams.values.toSeq.flatMap { ids =>
      val s = ids.toSeq.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }
    val truthLsh = famPairs.filter(p => jac(p) >= lshThreshold).toSet
    val truthContain = docs.filter(d => d.kind == "excerpt" && survivorIds(d.id) &&
      survivorIds(d.source)).map(d => (math.min(d.id, d.source), math.max(d.id, d.source))).toSet
    new Corpus(docs.toSeq, truthLsh, truthContain, family,
      docs.count(_.kind != "low"), survivorIds.size, jac)
  }

  /** Copy `c` of the base corpus, rendered as text through the copy's own
    * content vocabulary. */
  private def writeInputs(spark: SparkSession, seed: Long, c: Corpus,
      vecs: Seq[(Long, Array[Float])], qs: Seq[(Long, Array[Float])], root: String): Unit = {
    import spark.implicits._
    val rows = (0 until copies).flatMap { cp =>
      val rng = new Random(seed * 1000 + cp)
      val words = Array.fill(vocab) {
        Array.fill(4 + rng.nextInt(6))(('a' + rng.nextInt(26)).toChar).mkString
      }
      c.docs.map { d =>
        (cp * 1000000L + d.id,
          d.toks.map(t => if (t >= 0) words(t) else stopwords(-1 - t)).mkString(" "))
      }
    }
    rows.toDF("doc_id", "text").repartition(4).write.parquet(root + "docs")
    vecs.toDF("vec_id", "embedding").repartition(4).write.parquet(root + "vecs")
    qs.toDF("vec_id", "embedding").coalesce(1).write.parquet(root + "queries")
  }

  /** A seeded Gaussian mixture, queries drawn from the same mixture, and
    * each query's exact top-10 by cosine. */
  private def vectors(seed: Long)
      : (Seq[(Long, Array[Float])], Seq[(Long, Array[Float])], Map[Long, Set[Long]]) = {
    val rng = new Random(seed + 17)
    val centers = Array.fill(24)(Array.fill(dim)(rng.nextGaussian().toFloat))
    def draw(): Array[Float] = {
      val c = centers(rng.nextInt(centers.length))
      c.map(x => x + 0.6f * rng.nextGaussian().toFloat)
    }
    val vecs = (0 until vecsPerCopy * copies).map(i => (i.toLong, draw()))
    val qs = (0 until queries).map(i => (1000000000L + i, draw()))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = qs.map { case (q, v) =>
      q -> vecs.sortBy { case (id, w) => (-cos(v, w), id) }.take(10).map(_._1).toSet
    }.toMap
    (vecs, qs, truth)
  }
}
