package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextHashF
import graft.ops.Components
import graft.sim.Similarity
import graft.text.NearDup

/** Seeded LLM-pipeline corpus: documents and embedding vectors plus
  * injected exact and near-duplicate copies with known ground truth.
  * Copies always get larger ids than their originals.
  *
  * The originals follow the shape of the sf0.1 corpus of the
  * repository's TPC-H-style test data: 5,000 documents of 10 to 100
  * space-separated tokens (uniform; mean 54, about 300 characters)
  * drawn from a 30-word vocabulary of query-engine words, whose near
  * duplicates carry one extra token "dup", and 2,000 unit-length 64-d
  * vectors with independent Gaussian directions.
  */
object CorpusGen {
  final case class Corpus(docs: Vector[(Long, String)],
      vecs: Vector[(Long, Array[Float])], exactDocs: Seq[Seq[Long]],
      nearDocs: Set[(Long, Long)], exactVecs: Seq[Seq[Long]]) {
    private val exactPairs = exactDocs.flatMap(g =>
      g.combinations(2).map(p => (p.min, p.max))).toSet

    /** Ground truth: whether documents a < b are injected duplicates. */
    def duplicatePair(p: (Long, Long)): Boolean =
      nearDocs(p) || exactPairs(p)
  }

  val nDocs = 5000
  val nVecs = 2000
  val dim = 64
  val minTokens = 10
  val maxTokens = 100
  val vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** The corpus of `seed`: one in twenty originals copied exactly, one
    * in twenty near-copied (one token appended, the form of the near
    * duplicates in the sf0.1 corpus).
    */
  def build(seed: Long): Corpus = {
    val r = new Random(seed * 0x2545F4914F6CDD1DL + 7)
    def words(n: Int) = Vector.fill(n)(vocab(r.nextInt(vocab.size)))
    val orig = (0 until nDocs).map(i => (i.toLong,
      words(minTokens + r.nextInt(maxTokens - minTokens + 1)))).toVector
    var next = nDocs.toLong
    // exact and near copies come from disjoint originals, so each
    // exact group is a component of its own
    val (exactSrc, nearSrc) = r.shuffle(orig.indices.toVector)
      .take(nDocs / 10).splitAt(nDocs / 20)
    val exact = exactSrc.map { i =>
      val copies = Vector.fill(1 + r.nextInt(2)) { next += 1; next - 1 }
      (orig(i)._1 +: copies, orig(i)._2)
    }
    val near = nearSrc.map { i =>
      next += 1
      (orig(i)._1, next - 1, orig(i)._2 :+ "dup")
    }
    val docs = orig.map { case (i, w) => (i, w.mkString(" ")) } ++
      exact.flatMap { case (ids, w) => ids.tail.map((_, w.mkString(" "))) } ++
      near.map { case (_, id, w) => (id, w.mkString(" ")) }

    def unit(v: Array[Float]) = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def gauss() = unit(Array.fill(dim)(r.nextGaussian().toFloat))
    val base = (0 until nVecs).map(i => (i.toLong, gauss())).toVector
    var nv = nVecs.toLong
    val (exactVSrc, nearVSrc) = r.shuffle(base.indices.toVector)
      .take(nVecs / 10).splitAt(nVecs / 20)
    val exactV = exactVSrc.map { i =>
      nv += 1
      Seq(base(i)._1, nv - 1)
    }
    val nearV = nearVSrc.map { i =>
      nv += 1
      (nv - 1, unit(base(i)._2.map(x =>
        x + 0.001f * r.nextGaussian().toFloat)))
    }
    val vecs = base ++ exactV.map(g => (g(1), base(g(0).toInt)._2)) ++ nearV
    Corpus(docs, vecs, exact.map(_._1),
      near.map { case (a, b, _) => (a, b) }.toSet, exactV)
  }

  /** (documents, vectors) as (row count, checksum). */
  def fingerprint(c: Corpus): Seq[(Int, Long)] = Seq(
    (c.docs.size, c.docs.map(d => Checksum.row(d._1, d._2)).sum),
    (c.vecs.size, c.vecs.map(v => Checksum.row(v._1 +: v._2.toSeq: _*))
      .sum))

  def write(ctx: Ctx, c: Corpus, dir: File): (String, String) = {
    val spark = ctx.spark
    val docs = new File(dir, "documents").getPath
    val vecs = new File(dir, "embeddings").getPath
    spark.createDataFrame(spark.sparkContext.parallelize(
        c.docs.map { case (i, t) => Row(i, t) }, ctx.cores),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .write.parquet(docs)
    spark.createDataFrame(spark.sparkContext.parallelize(
        c.vecs.map { case (i, v) => Row(i, v.toSeq) }, ctx.cores),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType, false)))))
      .write.parquet(vecs)
    (docs, vecs)
  }
}

/** Repeated full dedup passes over the corpus: MinHash signatures,
  * LSH candidate pairs, connected components with keep-one, and
  * semantic dedup of the vectors.
  */
object CorpusDedup {
  // MinHash over 8-character shingles at stride 4, 6 components
  private val Shingle = 8
  private val Stride = 4
  private val Seeds = 6
  // LSH: 3 bands of 2 components each, every band hashed to a 20-bit
  // key; the keys are packed into one 60-bit word for NearDup's banded
  // self-join (its Hamming filter is switched off: maxHamming = 60)
  private val Bands = 3
  private val KeyBits = 20
  private val MaxBucket = 64
  // confirmation: agreeing MinHash components out of 6 (on the sf0.1
  // corpus, candidates agreeing on 5 or 6 have a mean shingle Jaccard
  // of 0.97, those agreeing on 3 at most 0.1)
  private val MinAgree = 5
  private val MinSim = 0.95
  private val SemMaxBucket = 400

  /** The packed band keys of MinHash signature `mh`. */
  private def bandKeys(mh: org.apache.spark.sql.Column) =
    (0 until Bands).map { b =>
      shiftleft(xxhash64(mh(2 * b), mh(2 * b + 1))
        .bitwiseAND(lit((1L << KeyBits) - 1)), KeyBits * b)
    }.reduce(_ bitwiseOR _)

  /** What one pass decided: dropped document ids, kept vector ids of
    * the semantic clusters, and the candidate-pair frame.
    */
  final case class Pass(droppedDocs: Set[Long], vecKeepers: Set[Long],
      candidates: DataFrame, release: Seq[DataFrame])

  private def pass(ctx: Ctx, t: OpTrace, docsPath: String,
      vecsPath: String, nVecs: Long, tag: String): Pass = {
    val spark = ctx.spark
    val sig = t.span("functions.minhash_sig") {
      spark.read.parquet(docsPath).select(col("doc_id"),
          TextHashF.minhashSig(col("text"), Shingle, Stride, Seeds)
            .as("mh"))
        .localCheckpoint(true)
    }
    val (cands, confirmed) = t.span("text.band_candidates") {
      val c = NearDup.simhashCandidates(
          sig.select(col("doc_id"), bandKeys(col("mh")).as("sh")), Bands,
          KeyBits, KeyBits, MaxBucket, Bands * KeyBits)
        .localCheckpoint(true)
      val mh = sig.select(col("doc_id"), col("mh"))
      val agree = aggregate(zip_with(col("ma"), col("mb"),
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
      val ok = c.join(mh.toDF("doc_a", "ma"), "doc_a")
        .join(mh.toDF("doc_b", "mb"), "doc_b")
        .filter(agree >= MinAgree).select("doc_a", "doc_b")
      (c, ok)
    }
    val dropped = t.span("ops.components") {
      val cc = Components.connected(confirmed)
      val out = cc.filter(col("node") =!= col("comp")).select("node")
        .collect().map(_.getLong(0)).toSet
      Components.release(cc)
      out
    }
    val keepers = t.span("sim.semantic_dedup") {
      val (k, planes) = Similarity.sizedQuantizer(nVecs, 64, 16)
      Similarity.semanticDedup(spark.read.parquet(vecsPath),
          Similarity.centroidTable(spark, k, CorpusGen.dim), planes,
          CorpusGen.dim, SemMaxBucket, MinSim, s"perfbench-dedup:$tag")
        .select("keep_id").collect().map(_.getLong(0)).toSet
    }
    Pass(dropped, keepers, cands, Seq(sig, cands))
  }

  /** The candidate pairs of a finished pass (traced runs), then its
    * cached frames released (untimed).
    */
  private def finish(ctx: Ctx, p: Pass): Seq[(Long, Long)] = {
    val pairs =
      if (ctx.tracing) p.candidates.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      else Nil
    // localCheckpoint blocks belong to the checkpoint RDD, not to a
    // cached Dataset
    p.release.foreach(_.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ => ()
    })
    graft.Materialized.clear(ctx.spark)
    pairs
  }

  def run(ctx: Ctx): Seq[Metric] = {
    ctx.log("session ready")
    val corpus = CorpusGen.build(ctx.seed)
    GenCheck.corpus(ctx, corpus)
    val dir = new File(ctx.work, "corpus")
    val (docs, vecs) = CorpusGen.write(ctx, corpus, dir)
    ctx.log("corpus written, generator checked")
    // warm-up: one untimed pass compiles the plans and warms the JIT;
    // its decisions are the reference every timed pass must repeat
    val ref = ctx.timed("warmup")(t =>
      pass(ctx, t, docs, vecs, corpus.vecs.size, "warmup"))
    ref.foreach { p =>
      finish(ctx, p)
      check(ctx, "warmup", corpus, p).foreach(ctx.fail)
    }
    ctx.discard()
    val setupS = Main.sinceJvmStart
    ctx.log("warm-up pass done")
    val tm = System.nanoTime()
    var i = 1
    var useful = 0L
    var cands = 0L
    while (!ctx.done(tm)) {
      val id = s"pass$i"
      ctx.timed(id)(t =>
        pass(ctx, t, docs, vecs, corpus.vecs.size, id)) match {
        case Some(p) =>
          val pairs = finish(ctx, p)
          check(ctx, id, corpus, p).foreach(ctx.failOp(id, _))
          if (!ref.exists(r => p.droppedDocs == r.droppedDocs &&
            p.vecKeepers == r.vecKeepers))
            ctx.failOp(id, s"$id kept another set than the warm-up pass")
          cands += pairs.size
          useful += pairs.count(corpus.duplicatePair)
        case None => ()
      }
      ctx.log(s"$id done")
      i += 1
    }
    // memoization guard: every pass does the same Spark work
    val work = ctx.samples.map(s => (s.work.jobs, s.work.inputBytes))
    if (work.distinct.size > 1)
      ctx.samples.foreach(s => ctx.failOp(s.id, "passes differ in Spark " +
        s"work (jobs, input bytes): ${work.distinct.mkString(" ")}"))
    val ms = ctx.samples.map(_.ms).toSeq
    val out = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("op_p50_ms", Stats.median(ms), "ms"),
      Metric("storage_amp", 1.0, "ratio"))
    if (!ctx.tracing) out
    else {
      val n = ctx.samples.size.max(1).toDouble
      val self = ctx.tracer.selfMs
      def s(name: String) = self.getOrElse(name, 0.0) / n / 1000.0
      out ++ Seq(
        Metric("functions.minhash_sig_s", s("functions.minhash_sig"), "s"),
        Metric("text.band_candidates_s", s("text.band_candidates"), "s"),
        Metric("text.candidate_pairs", cands / n, "count"),
        Metric("text.candidate_useful_ratio",
          if (cands == 0) 0.0 else useful.toDouble / cands, "ratio"),
        Metric("ops.components_s", s("ops.components"), "s"),
        Metric("sim.semantic_dedup_s", s("sim.semantic_dedup"), "s"))
    }
  }

  /** Ground-truth checks of one pass: every injected exact duplicate
    * is dropped (one keeper per group), for documents and vectors.
    */
  private def check(ctx: Ctx, id: String, c: CorpusGen.Corpus,
      p: Pass): Seq[String] = {
    val docMiss = c.exactDocs.count(g => g.count(x =>
      !p.droppedDocs(x)) != 1)
    val vecMiss = c.exactVecs.count(g => g.count(p.vecKeepers) != 1)
    (if (docMiss == 0) Nil
    else Seq(s"$id: $docMiss exact duplicate document groups not " +
      "reduced to one keeper")) ++
      (if (vecMiss == 0) Nil
      else Seq(s"$id: $vecMiss exact duplicate vector groups not reduced " +
        "to one keeper"))
  }
}
