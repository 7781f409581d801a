package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, greatest}

import graft.dedup.Dedup
import graft.search.AnnJoin
import graft.text.TextFunctions

/**
 * Batch training-data pipeline over a corpus with planted duplicates:
 * quality gate -> exact dedup -> MinHash candidates + connected
 * components -> semantic dedup through an IVF self-join -> survivors to
 * the noop sink. Each stage's output is materialised before the next
 * stage reads it, as a staged curation job would checkpoint it. Bound
 * by shuffle and executor compute, so driver fixed cost is a small share.
 */
object Curate extends Workload {
  val name = "curate"

  val Docs = 2500 // base documents, before planted copies
  val Dim = 64
  val Clusters = 48
  val Vocabulary = 4000
  val LowQualityShare = 0.08
  val ExactShare = 0.05
  val NearShare = 0.05
  val SemanticShare = 0.04
  val QualityMin = 0.7
  /** squared-L2 distance under which two embeddings are one meaning */
  val SemanticRadius = 1.0
  val JoinLists = 32
  val JoinProbes = 4
  /** timed passes per second of run time, at least three: like ingest's
    * cycles, a fixed count keeps a run's work a function of its arguments */
  val PassesPerSecond = 0.4

  def passes(seconds: Int): Int = math.max(3, math.round(seconds * PassesPerSecond).toInt)

  def sizes: Map[String, Any] = Map("base_docs" -> Docs, "dim" -> Dim, "clusters" -> Clusters,
    "vocabulary" -> Vocabulary, "low_quality_share" -> LowQualityShare,
    "exact_share" -> ExactShare, "near_share" -> NearShare, "semantic_share" -> SemanticShare,
    "quality_min" -> QualityMin, "semantic_radius" -> SemanticRadius,
    "ivfjoin" -> s"nlist=$JoinLists nprobe=$JoinProbes k=2", "passes_per_second" -> PassesPerSecond)

  /** Planted duplicate `id` of `source`; kind is exact, near or semantic. */
  final case class Planted(id: Long, source: Long, kind: String)

  final case class Inputs(ids: Array[Long], texts: Array[String], embs: Array[Array[Float]],
      planted: Array[Planted]) {
    def total: Int = ids.length
  }

  private val Stop = TextFunctions.stopwords.toArray

  def inputs(seed: Long): Inputs = {
    val r = Gen.rng(seed, 21)
    val words = Array.tabulate(Vocabulary)(i => "w" + Integer.toString(i * 7919 + 1000, 36))
    def word(): String =
      if (r.nextDouble() < 0.25) Stop(r.nextInt(Stop.length))
      else words((math.pow(r.nextDouble(), 2.0) * Vocabulary).toInt) // skewed word frequency
    def goodText(): Array[String] = Array.fill(70 + r.nextInt(80))(word())
    def lowText(): Array[String] = r.nextInt(3) match {
      case 0 => Array.fill(40)("spam")
      case 1 => Array.fill(6)(word())
      case _ => Array.fill(30)(word() + "!!!;")
    }
    val cs = Gen.centers(r, Clusters, Dim, 1.0)
    val low = Array.fill(Docs)(r.nextDouble() < LowQualityShare)
    val baseTokens = low.map(l => if (l) lowText() else goodText())
    val baseEmbs = Gen.clustered(r, cs, Docs, 0.35)
    val good = (0 until Docs).filterNot(low).toArray
    def plant(share: Double, kind: String, from: Int): Array[Planted] =
      Array.tabulate((Docs * share).toInt)(i => Planted((from + i).toLong, good(r.nextInt(good.length)).toLong, kind))
    val exact = plant(ExactShare, "exact", Docs)
    val near = plant(NearShare, "near", Docs + exact.length)
    val semantic = plant(SemanticShare, "semantic", Docs + exact.length + near.length)
    val planted = exact ++ near ++ semantic
    val plantedTexts = planted.map { p =>
      val src = baseTokens(p.source.toInt)
      p.kind match {
        case "exact" => src
        case "near" =>
          // replace 2-15% of the words: jaccard spread around the LSH threshold
          val rate = 0.02 + 0.13 * r.nextDouble()
          src.map(w => if (r.nextDouble() < rate) words(r.nextInt(Vocabulary)) else w)
        case _ => goodText() // same meaning, different words
      }
    }
    val plantedEmbs = planted.map { p =>
      val src = baseEmbs(p.source.toInt)
      p.kind match {
        case "near" => Gen.jitter(r, src, 0.35) // unrelated embedding: only MinHash finds it
        case _ => Gen.jitter(r, src, 0.01)
      }
    }
    Inputs(Array.tabulate(Docs + planted.length)(_.toLong),
      (baseTokens ++ plantedTexts).map(_.mkString(" ")), baseEmbs ++ plantedEmbs, planted)
  }

  def inputsFingerprint(seed: Long): String = {
    val in = inputs(seed)
    Gen.fingerprint(Iterator(in.ids, in.texts, in.embs,
      in.planted.map(p => s"${p.id}:${p.source}:${p.kind}")))
  }

  final class State(val spark: SparkSession, val in: Inputs, val docs: DataFrame)

  def setup(spark: SparkSession, seed: Long, sections: SetupSections): State = {
    import spark.implicits._
    val in = sections.time("generate")(inputs(seed))
    val docs = sections.time("load") {
      val df = in.ids.indices.map(i => (in.ids(i), in.texts(i), in.embs(i))).toDF("id", "text", "emb")
        .repartition(spark.sparkContext.defaultParallelism).cache()
      df.count()
      df
    }
    new State(spark, in, docs)
  }

  def teardown(st: State): Unit = st.spark.catalog.clearCache()

  /** Stage outputs of one pass, materialised; release with [[Pass.release]]. */
  final class Pass(val candidates: DataFrame, val survivors: DataFrame, held: Seq[DataFrame]) {
    def release(): Unit = held.foreach(_.unpersist(blocking = true))
  }

  private def pinned(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  private def pass(docs: DataFrame, tracer: Tracer): Pass = tracer.span("curate.pass") {
    val gated = tracer.span("text.quality") {
      pinned(docs
        .withColumn("toks", TextFunctions.tokens(col("text")))
        .where(TextFunctions.qualityScoreT(col("text"), col("toks")) >= QualityMin)
        .drop("toks"))
    }
    val exact = tracer.span("dedup.exact") {
      val keep = Dedup.exact(gated, "id", "text").select(col("keep_id").as("id"))
      pinned(gated.join(keep, Seq("id"), "left_semi"))
    }
    val candidates = tracer.span("dedup.minhash")(pinned(Dedup.minhashCandidates(exact, "id", "text")))
    val textual = tracer.span("dedup.components") {
      val dropped = Dedup.connectedComponents(candidates)
        .where(col("id") =!= col("cluster_id")).select("id")
      pinned(exact.join(dropped, Seq("id"), "left_anti"))
    }
    val survivors = tracer.span("search.ivfjoin") {
      val nn = AnnJoin.ivfJoin(
        textual.select(col("id").as("qid"), col("emb").as("qvec")),
        textual.select(col("id").as("label"), col("emb").as("vec")),
        k = 2, nlist = JoinLists, nprobe = JoinProbes, excludeSelf = true)
      // of two documents with one meaning, the later one goes
      val dropped = nn.where(col("distance") < SemanticRadius)
        .select(greatest(col("qid"), col("label")).as("id")).distinct()
      pinned(textual.join(dropped, Seq("id"), "left_anti"))
    }
    tracer.span("sink")(survivors.write.format("noop").mode("overwrite").save())
    new Pass(candidates, survivors, Seq(gated, exact, candidates, textual, survivors))
  }

  /** Survivors with duplicated text, as an error. */
  def check(in: Inputs, survivors: Array[Long]): Option[String] = {
    lazy val texts = survivors.map(id => in.texts(id.toInt))
    if (survivors.isEmpty) Some("no document survived")
    else if (survivors.exists(id => id < 0 || id >= in.total)) Some("unknown survivor id")
    else if (texts.distinct.length != texts.length)
      Some(s"${texts.length - texts.distinct.length} exact duplicates survived")
    else None
  }

  /** one untimed pass compiles every stage's plan and warms the JIT, so
    * the timed passes measure the pipeline itself */
  def warm(st: State): Unit = pass(st.docs, new Tracer(st.spark.sparkContext, false)).release()

  def measure(st: State, seconds: Int, ops: Ops, tracer: Tracer, sections: SetupSections): Measured = {
    val in = st.in
    val plantedIds = in.planted.map(_.id).toSet
    val family = in.planted.map(p => p.id -> p.source).toMap.withDefault(identity)
    val lat = Seq.newBuilder[Long]
    val traced = Seq.newBuilder[Long]
    val dupRecall = Seq.newBuilder[Double]
    var candidatePairs = Seq.empty[(Long, Long)]
    (0 until passes(seconds)).foreach { i =>
      System.gc() // each pass starts from a collected heap, as a fresh batch job would
      tracer.active = tracer.on && i % 2 == 0
      var kept = Array.empty[Long]
      ops.timed(s"curate pass $i")(pass(st.docs, tracer)) { p =>
        try {
          kept = p.survivors.select("id").collect().map(_.getLong(0))
          if (tracer.active)
            candidatePairs = p.candidates.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          check(in, kept)
        } finally p.release()
      }.foreach { case (_, ns) =>
        lat += ns
        if (tracer.active) traced += ns
        val survived = kept.toSet
        dupRecall += plantedIds.count(id => !survived(id)).toDouble / plantedIds.size
      }
    }
    tracer.active = false
    tracer.listener.foreach(_.awaitQuiet())
    val times = lat.result()
    val docsPerS = Stats.perSecond(in.total.toLong, Stats.median(times.map(_.toDouble)).toLong)
    val recall = Stats.median(dupRecall.result())
    val layers = if (!tracer.on) Nil else {
      val roots = tracer.roots("curate.pass")
      def stage(n: String) = Tracing.childP50(tracer, roots, n)
      val truePairs = candidatePairs.count { case (a, b) => family(a) == family(b) }
      Seq(
        Metric("text.quality_ms", stage("text.quality"), "ms"),
        Metric("dedup.exact_ms", stage("dedup.exact"), "ms"),
        Metric("dedup.minhash_ms", stage("dedup.minhash"), "ms"),
        Metric("dedup.components_ms", stage("dedup.components"), "ms"),
        Metric("search.ivfjoin_ms", stage("search.ivfjoin"), "ms"),
        Metric("dedup.candidate_pairs", candidatePairs.length.toDouble, "count"),
        Metric("dedup.candidate_yield",
          if (candidatePairs.isEmpty) 0.0 else truePairs.toDouble / candidatePairs.length, "ratio"),
        Metric("curate.docs_per_s", docsPerS, "1/s"),
        Metric("curate.dup_recall", recall, "ratio")) ++
        tracer.engine(roots, "curate")
    }
    Measured(times, traced.result(), docsPerS, recall, Main.cachedMb(st.spark), layers)
  }
}
