package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.IndexCatalog

/**
 * Writes beside reads on one IVF index: starting from a trained index
 * holding a base set, each cycle adds a batch with explicit ids and then
 * searches for some of the rows it just added (read-your-writes); some
 * cycles also remove ids. The run ends with save -> destroy -> load.
 * Adds are lazy, so their cost lands in the searches that follow them.
 */
object Ingest extends Workload {
  val name = "ingest"

  val Base = 12000
  val Dim = 64
  val Clusters = 64
  val TrainSample = 4000
  val AddBatch = 500
  val RemoveBatch = 300
  val RemoveEvery = 6 // cycles
  val Batch = 10
  val K = 10
  val Index = "ingest_ivf"
  val Factory = "IDMap,IVF128,Flat"
  val Params = Map("nprobe" -> "2")
  /** cycles per second of run time: the measured phase is a fixed script
    * whose length follows --seconds, so a run's work depends only on its
    * arguments */
  val CyclesPerSecond = 1.2
  val MaxCycles = 72

  def cycles(seconds: Int): Int =
    math.min(MaxCycles, math.max(RemoveEvery + 1, math.round(seconds * CyclesPerSecond).toInt))

  def sizes: Map[String, Any] = Map("base" -> Base, "dim" -> Dim, "clusters" -> Clusters,
    "train_sample" -> TrainSample, "add_batch" -> AddBatch, "remove_batch" -> RemoveBatch,
    "remove_every_cycles" -> RemoveEvery, "batch" -> Batch, "k" -> K,
    "index" -> s"$Factory nprobe=${Params("nprobe")}", "cycles_per_second" -> CyclesPerSecond)

  /** Every vector the run will ever add, in id order, and the removals. */
  final case class Inputs(vectors: Array[Array[Float]], sample: Array[Array[Float]],
      removals: Array[Array[Long]], probes: Array[Array[Int]])

  def inputs(seed: Long, cycles: Int = MaxCycles): Inputs = {
    val r = Gen.rng(seed, 11)
    val cs = Gen.centers(r, Clusters, Dim, 1.0)
    val vectors = Gen.clustered(r, cs, Base + cycles * AddBatch, 0.35)
    val sample = Gen.clustered(Gen.rng(seed, 12), cs, TrainSample, 0.35)
    val pick = Gen.rng(seed, 13)
    // removals draw from the ids present before the cycle that removes them;
    // ids may repeat across removals, which must be a no-op
    val removals = Array.tabulate(cycles) { c =>
      val present = Base + c * AddBatch
      Array.fill(RemoveBatch)(pick.nextInt(present).toLong)
    }
    // positions, within a cycle's batch, of the rows read back
    val probes = Array.fill(cycles)(Array.fill(Batch)(pick.nextInt(AddBatch)))
    Inputs(vectors, sample, removals, probes)
  }

  def inputsFingerprint(seed: Long): String = {
    val in = inputs(seed)
    Gen.fingerprint(Iterator(in.vectors, in.sample, in.removals, in.probes))
  }

  final class State(val spark: SparkSession, val in: Inputs, val savePath: String)

  private def frame(spark: SparkSession, in: Inputs, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (i.toLong, in.vectors(i))).toDF("id", "vec")
  }

  def setup(spark: SparkSession, seed: Long, sections: SetupSections): State = {
    import spark.implicits._
    val in = sections.time("generate")(inputs(seed))
    if (IndexCatalog.exists(Index)) IndexCatalog.destroy(Index)
    IndexCatalog.create(Index, Dim, Factory)
    sections.time("index.train") {
      IndexCatalog.manualTrain(in.sample.toSeq.toDF("vec"), Index)
    }
    sections.time("index.build") {
      IndexCatalog.add(frame(spark, in, 0, Base), Index)
      IndexCatalog.search(Index, K, queries(spark, Seq(0L -> in.vectors(0))), Params).collect()
    }
    val dir = java.nio.file.Files.createTempDirectory("perfbench-ingest").toFile
    new State(spark, in, new java.io.File(dir, "index").getPath)
  }

  def teardown(st: State): Unit = {
    if (IndexCatalog.exists(Index)) IndexCatalog.destroy(Index)
    st.spark.catalog.clearCache()
    deleteTree(new java.io.File(st.savePath).getParentFile)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def queries(spark: SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.toDF("qid", "qv")
  }

  private def search(st: State, qs: Seq[(Long, Array[Float])], tracer: Tracer, span: String): Array[Hit] =
    Hits.of(Tracing.search(tracer, span)(IndexCatalog.search(Index, K, queries(st.spark, qs), Params)))

  /** nothing: set-up's first search already planned the search path */
  def warm(st: State): Unit = ()

  def measure(st: State, seconds: Int, ops: Ops, tracer: Tracer, sections: SetupSections): Measured = {
    val in = st.in
    val n = cycles(seconds)
    val alive = Array.fill(Base + n * AddBatch)(false)
    (0 until Base).foreach(alive(_) = true)
    val removed = scala.collection.mutable.HashSet.empty[Long]
    def live: (Array[Long], Array[Array[Float]]) = {
      val ids = alive.indices.filter(alive(_)).map(_.toLong).toArray
      (ids, ids.map(i => in.vectors(i.toInt)))
    }
    /** error when a hit is a removed id, or not the ranked list of a query */
    def wellFormed(hits: Array[Hit], qids: Seq[Long]): Option[String] = {
      val byQ = hits.groupBy(_.qid)
      if (byQ.keySet != qids.toSet) Some(s"result qids ${byQ.keySet.toSeq.sorted} != ${qids.sorted}")
      else hits.find(h => removed(h.label)).map(h => s"removed id ${h.label} returned")
        .orElse(qids.find(q => byQ(q).map(_.rank).sorted.toSeq != (0 until K)).map(q => s"query $q is not a ranked top-$K"))
    }

    val lat = Seq.newBuilder[Long]
    val traced = Seq.newBuilder[Long]
    val addNs = Seq.newBuilder[Long]
    val removeNs = Seq.newBuilder[Long]
    val recalls = Seq.newBuilder[Double]
    val growth = Seq.newBuilder[(Double, Double)] // (adds since the layout was rebuilt, search ms)
    var searchMs = Vector.empty[Double]
    var busyNs = 0L
    var rowsAdded = 0L
    var appendsSinceBuild = 0
    var lastSearchRoot: Option[Span] = None

    (0 until n).foreach { c =>
      // the last cycle is always traced, for the jobs of the final search
      tracer.active = tracer.on && (n - 1 - c) % 2 == 0
      val from = Base + c * AddBatch
      val added = ops.timed(s"add cycle $c") {
        tracer.span("ingest.add")(IndexCatalog.add(frame(st.spark, in, from, from + AddBatch), Index))
      }(_ => None)
      added.foreach { case (_, ns) =>
        (from until from + AddBatch).foreach(alive(_) = true)
        appendsSinceBuild += 1
        addNs += ns
        busyNs += ns
        rowsAdded += AddBatch
      }
      val qs = in.probes(c).toSeq.distinct.map(p => ((from + p).toLong, in.vectors(from + p)))
      val (ids, vecs) = live
      var rec = Seq.empty[Double]
      val found = ops.timed(s"read-your-writes search cycle $c")(search(st, qs, tracer, "ingest.search")) { hits =>
        wellFormed(hits, qs.map(_._1)).orElse {
          val byQ = hits.groupBy(_.qid)
          qs.collectFirst {
            case (q, _) if !byQ(q).exists(h => h.rank == 0 && h.label == q && h.distance <= 1e-6) =>
              s"just-added id $q not returned first at distance 0"
          }
        }.orElse {
          val byQ = hits.groupBy(_.qid)
          rec = qs.map { case (q, v) => Oracle.recall(byQ(q).map(_.label).toSeq, Oracle.topK(v, ids, vecs, K)) }
          None
        }
      }
      found.foreach { case (_, ns) =>
        lat += ns
        if (tracer.active) traced += ns
        busyNs += ns
        recalls ++= rec
        searchMs :+= Stats.ms(ns)
        if (appendsSinceBuild > 0) growth += ((appendsSinceBuild.toDouble, Stats.ms(ns)))
      }
      if (tracer.active) lastSearchRoot = tracer.spans.lastOption.filter(_.name == "ingest.search")
      if (c % RemoveEvery == RemoveEvery - 1) {
        val ids = in.removals(c).filter(i => alive(i.toInt))
        val want = ids.distinct.length.toLong
        ops.timed(s"remove cycle $c") {
          import st.spark.implicits._
          tracer.span("ingest.remove")(IndexCatalog.remove(Index, ids.toSeq.toDF("id")))
        }(got => if (got == want) None else Some(s"removed $got ids, want $want")).foreach { case (_, ns) =>
          removeNs += ns
          ids.foreach { i => alive(i.toInt) = false; removed += i }
          // a removal drops the built layout; the search for the removed
          // ids below rebuilds it, and later adds append to the rebuild
          appendsSinceBuild = 0
        }
        // the removed rows themselves, searched for: none may come back
        val gone = ids.distinct.take(Batch).toSeq.map(i => (i, in.vectors(i.toInt)))
        ops.timed(s"search for removed ids cycle $c")(search(st, gone, tracer, "ingest.removed_search")) {
          hits => wellFormed(hits, gone.map(_._1))
        }
      }
    }

    val cached = Main.cachedMb(st.spark) // a loaded index is file-backed, so measure first
    // persistence round trip: the loaded index must answer like the saved one
    tracer.active = tracer.on
    val probe = (0 until Batch).map(j => ((Base + j).toLong, in.vectors(Base + j)))
    val saveLoad = ops.timed("search before save")(search(st, probe, tracer, "ingest.presave")) {
      hits => wellFormed(hits, probe.map(_._1))
    }.flatMap { case (before, _) =>
      var saveMs, loadMs = 0.0
      ops.timed("save -> destroy -> load -> search") {
        val t0 = System.nanoTime()
        tracer.span("ingest.save")(IndexCatalog.save(Index, st.savePath))
        saveMs = Stats.ms(System.nanoTime() - t0)
        IndexCatalog.destroy(Index)
        val t1 = System.nanoTime()
        tracer.span("ingest.load")(IndexCatalog.load(Index, st.savePath, st.spark))
        loadMs = Stats.ms(System.nanoTime() - t1)
        search(st, probe, tracer, "ingest.postload")
      } { after =>
        val key = (h: Hit) => (h.qid, h.rank, h.label)
        if (after.map(key).sorted.toSeq == before.map(key).sorted.toSeq) None
        else Some("search after load differs from search before save")
      }.map { case (_, ns) => (ns / 1e9, saveMs, loadMs) }
    }
    tracer.active = false
    tracer.listener.foreach(_.awaitQuiet())

    val recall = Stats.mean(recalls.result())
    val rowsPerS = Stats.perSecond(rowsAdded, busyNs)
    val layers = if (!tracer.on) Nil else {
      val roots = tracer.spans.filter(s => s.parent < 0 && s.name == "ingest.search")
      val searches = lat.result()
      def p50(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else Stats.median(xs.map(Stats.ms))
      Tracing.requestLayers("ingest", tracer, roots, searches.length, recall) ++ Seq(
        Metric("index.train_ms", sections.median("index.train"), "ms"),
        Metric("index.add_call_ms_p50", p50(addNs.result()), "ms"),
        Metric("index.remove_ms", p50(removeNs.result()), "ms"),
        Metric("index.save_ms", saveLoad.map(_._2).getOrElse(0.0), "ms"),
        Metric("index.load_ms", saveLoad.map(_._3).getOrElse(0.0), "ms"),
        Metric("ingest.search_ms_first", searchMs.headOption.getOrElse(0.0), "ms"),
        Metric("ingest.search_ms_last", searchMs.lastOption.getOrElse(0.0), "ms"),
        Metric("ingest.search_growth_ms_per_add", Stats.slope(growth.result()), "ms"),
        Metric("ingest.jobs_per_search_last",
          lastSearchRoot.map(r => tracer.work(r).jobs.toDouble).getOrElse(0.0), "count"),
        Metric("ingest.rows_added_per_s", rowsPerS, "1/s"),
        Metric("ingest.save_load_s", saveLoad.map(_._1).getOrElse(0.0), "s")) ++
        tracer.engine(tracer.spans.filter(s => s.parent < 0 && s.name.startsWith("ingest.")), "ingest")
    }
    Measured(lat.result(), traced.result(), rowsPerS, recall, cached, layers)
  }
}
