package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.index.IndexCatalog
import graft.sql.GraftFunctions

/**
 * Read-only closed loop, one client: each request searches one batch of
 * 10 queries, the per-chunk shape of the reference's `faiss_search`.
 * Requests rotate over an IVF-Flat, an HNSW and an IVF-PQ index built
 * through the plain create -> add -> first search lifecycle, plus a
 * filtered search and a search sent through SQL. Request time here is
 * mostly driver, planning and job-scheduling cost, not executor compute.
 */
object Serve extends Workload {
  val name = "serve"

  val N = 6000
  val Dim = 64
  val Clusters = 64
  val Batch = 10
  val K = 10
  val Batches = 48 // distinct query batches the request rotation draws from
  /** timed requests per second of run time, rounded to whole blocks: a
    * fixed count gives every run the same mix of request kinds */
  val RequestsPerSecond = 4.0
  val MaxBlocks = 16
  def blocks(seconds: Int): Int =
    math.min(MaxBlocks, math.max(1, math.round(seconds * RequestsPerSecond / KindsPerBlock.sum).toInt))

  /** label predicate of the filtered requests, for the engine and for the
    * oracle: passes 30% of labels */
  val Filter = col("label") % 10 < 3
  def passes(label: Long): Boolean = label % 10 < 3
  val Kinds: Seq[String] = Seq("ivf", "hnsw", "ivfpq", "filter", "sql")
  /** requests of each kind (ivf, hnsw, ivfpq, filter, sql) in one block of
    * the rotation. Kinds differ in latency by up to 5x; with this mix the
    * median and the 90th percentile of two blocks fall inside one group's
    * latencies (ivf with filter, and sql), not on the step between two
    * groups, where they would jump between seeds. */
  private val KindsPerBlock = Seq(7, 4, 3, 3, 3)

  private val Indexes = Seq(
    ("ivf", "serve_ivf", "IDMap,IVF128,Flat", Map("nprobe" -> "8")),
    ("hnsw", "serve_hnsw", "IDMap,HNSW16", Map("efSearch" -> "64")),
    ("ivfpq", "serve_ivfpq", "IDMap,IVF128,PQ8", Map("nprobe" -> "8", "refine" -> "32")))

  def sizes: Map[String, Any] = Map("vectors" -> N, "dim" -> Dim, "clusters" -> Clusters,
    "batch" -> Batch, "k" -> K, "query_batches" -> Batches,
    "requests_per_second" -> RequestsPerSecond, "kinds_per_block" -> Kinds.zip(KindsPerBlock).toMap,
    "indexes" -> Indexes.map(i => s"${i._3} ${i._4.map { case (k, v) => s"$k=$v" }.mkString(",")}"))

  final case class Inputs(corpus: Array[Array[Float]], queries: Array[Array[Float]],
      kinds: Array[Int], batches: Array[Int])

  def inputs(seed: Long): Inputs = {
    val r = Gen.rng(seed, 1)
    val cs = Gen.centers(r, Clusters, Dim, 1.0)
    val corpus = Gen.clustered(r, cs, N, 0.35)
    val queries = Gen.clustered(Gen.rng(seed, 2), cs, Batches * Batch, 0.35)
    val mix = Gen.rng(seed, 3)
    val block = KindsPerBlock.zipWithIndex.flatMap { case (n, k) => Seq.fill(n)(k) }.toArray
    val kinds = Array.fill(MaxBlocks)(shuffled(mix, block)).flatten
    val batches = Array.fill(kinds.length)(mix.nextInt(Batches))
    Inputs(corpus, queries, kinds, batches)
  }

  private def shuffled(r: java.util.SplittableRandom, xs: Array[Int]): Array[Int] = {
    val a = xs.clone()
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def inputsFingerprint(seed: Long): String = {
    val in = inputs(seed)
    Gen.fingerprint(Iterator(in.corpus, in.queries, in.kinds, in.batches))
  }

  final class State(val spark: SparkSession, val in: Inputs,
      val truth: Array[Array[Long]], val truthFiltered: Array[Array[Long]])

  def setup(spark: SparkSession, seed: Long, sections: SetupSections): State = {
    import spark.implicits._
    val in = sections.time("generate")(inputs(seed))
    val ids = Array.tabulate(N)(_.toLong)
    val (truth, truthFiltered) = sections.time("truth") {
      (Oracle.topKAll(in.queries, ids, in.corpus, K),
        Oracle.topKAll(in.queries, ids, in.corpus, K, passes))
    }
    GraftFunctions.registerAll(spark)
    val corpus = ids.toSeq.zip(in.corpus.toSeq).toDF("id", "vec")
    Indexes.foreach { case (kind, index, factory, params) =>
      val before = Main.cachedMb(spark)
      sections.time(s"index.build.$kind") {
        if (IndexCatalog.exists(index)) IndexCatalog.destroy(index)
        IndexCatalog.create(index, Dim, factory)
        IndexCatalog.add(corpus, index)
        IndexCatalog.search(index, K, queryFrame(spark, in, 0), params).collect()
      }
      sections.record(s"index.cached_mb.$kind", Main.cachedMb(spark) - before)
    }
    new State(spark, in, truth, truthFiltered)
  }

  def teardown(st: State): Unit = {
    Indexes.foreach { case (_, index, _, _) => if (IndexCatalog.exists(index)) IndexCatalog.destroy(index) }
    st.spark.catalog.clearCache()
  }

  private def queryFrame(spark: SparkSession, in: Inputs, batch: Int): DataFrame = {
    import spark.implicits._
    (0 until Batch).map { j =>
      val q = batch * Batch + j
      (q.toLong, in.queries(q))
    }.toDF("qid", "qv")
  }

  private val Sql =
    """SELECT qid, r.rank AS rank, r.label AS label, r.distance AS distance
      |FROM (SELECT qid, faiss_search('serve_ivf', 10, qv, map('nprobe', '8')) AS rs FROM serve_q)
      |LATERAL VIEW explode(rs) t AS r""".stripMargin

  /** one request: (qid, rank, label, distance) rows */
  private def request(st: State, kind: String, batch: Int, tracer: Tracer): Array[Row] =
    Tracing.search(tracer, s"serve.$kind") {
      val q = queryFrame(st.spark, st.in, batch)
      def index(k: String) = Indexes.find(_._1 == k).get
      kind match {
        case "filter" => IndexCatalog.searchFilter("serve_ivf", K, q, Filter, index("ivf")._4)
        case "sql" =>
          q.createOrReplaceTempView("serve_q")
          st.spark.sql(Sql)
        case k => IndexCatalog.search(index(k)._2, K, q, index(k)._4)
      }
    }

  /** Checks one request's rows; returns its recall@10 per query or an error. */
  def check(st: State, kind: String, batch: Int, rows: Array[Row]): Either[String, Seq[Double]] = {
    val byQ = Hits.of(rows).groupBy(_.qid)
    val qids = (0 until Batch).map(j => (batch * Batch + j).toLong)
    if (byQ.keySet != qids.toSet) return Left(s"result qids ${byQ.keySet.toSeq.sorted} != $qids")
    val recalls = qids.map { qid =>
      val hits = byQ(qid).sortBy(_.rank)
      val labels = hits.map(_.label)
      val dists = hits.map(_.distance)
      if (hits.length != K) return Left(s"query $qid returned ${hits.length} rows, want $K")
      if (hits.map(_.rank).toSeq != (0 until K)) return Left(s"query $qid ranks ${hits.map(_.rank).mkString(",")}")
      if (labels.distinct.length != K) return Left(s"query $qid repeats a label")
      if (labels.exists(l => l < 0 || l >= N)) return Left(s"query $qid returned an unknown label")
      if (dists.zip(dists.tail).exists { case (a, b) => b < a }) return Left(s"query $qid distances not ascending")
      if (kind == "filter" && !labels.forall(passes)) return Left(s"query $qid returned a label outside the filter")
      val q = st.in.queries(qid.toInt)
      labels.zip(dists).foreach { case (l, d) =>
        val exact = Oracle.l2sq(q, st.in.corpus(l.toInt))
        if (math.abs(exact - d) > 1e-3 * (1.0 + exact))
          return Left(s"query $qid label $l distance $d, true distance $exact")
      }
      val truth = if (kind == "filter") st.truthFiltered(qid.toInt) else st.truth(qid.toInt)
      Oracle.recall(labels.toSeq, truth)
    }
    Right(recalls)
  }

  /** one request per kind: the SQL surface's first analysis and each
    * plan shape's code generation are not what a serving user pays */
  def warm(st: State): Unit =
    Kinds.indices.foreach(k => request(st, Kinds(k), k, new Tracer(st.spark.sparkContext, false)))

  def measure(st: State, seconds: Int, ops: Ops, tracer: Tracer, sections: SetupSections): Measured = {
    val lat = Seq.newBuilder[Long]
    val traced = Seq.newBuilder[Long]
    val byKind = Kinds.map(_ -> Seq.newBuilder[Double]).toMap
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val recalls = Seq.newBuilder[Double]
    var queries = 0L
    var busyNs = 0L
    val requests = blocks(seconds) * KindsPerBlock.sum
    (0 until requests).foreach { i =>
      val kind = Kinds(st.in.kinds(i))
      val batch = st.in.batches(i)
      // every other request of each kind is traced
      tracer.active = tracer.on && seen(kind) % 2 == 0
      seen(kind) += 1
      var rec: Seq[Double] = Nil
      ops.timed(s"serve.$kind batch $batch")(request(st, kind, batch, tracer)) { rows =>
        check(st, kind, batch, rows) match {
          case Left(err) => Some(err)
          case Right(r) => rec = r; None
        }
      }.foreach { case (_, ns) =>
        lat += ns
        if (tracer.active) traced += ns
        byKind(kind) += Stats.ms(ns)
        recalls ++= rec
        queries += Batch
        busyNs += ns
      }
    }
    tracer.active = false
    tracer.listener.foreach(_.awaitQuiet())
    val recall = Stats.mean(recalls.result())
    val qps = Stats.perSecond(queries, busyNs)
    val layers = if (!tracer.on) Nil else {
      val roots = tracer.spans.filter(s => s.parent < 0 && s.name.startsWith("serve."))
      Tracing.requestLayers("serve", tracer, roots, lat.result().length, recall) ++
        Kinds.map(k => Metric(s"serve.$k.latency_p50_ms",
          if (byKind(k).result().isEmpty) 0.0 else Stats.median(byKind(k).result()), "ms")) ++
        Seq(Metric("serve.sql.plan_ms_p50", Tracing.childP50(tracer,
          roots.filter(_.name == "serve.sql"), "plan"), "ms"),
          Metric("serve.queries_per_s", qps, "1/s")) ++
        Indexes.flatMap { case (kind, _, _, _) => Seq(
          Metric(s"index.build_ms.$kind", sections.median(s"index.build.$kind"), "ms"),
          Metric(s"index.cached_mb.$kind", sections.median(s"index.cached_mb.$kind"), "MB")) } ++
        tracer.engine(roots, "serve")
    }
    Measured(lat.result(), traced.result(), qps, recall, Main.cachedMb(st.spark), layers)
  }
}
