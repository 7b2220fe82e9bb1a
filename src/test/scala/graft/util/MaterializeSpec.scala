package graft.util

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.QueryCatalog
import graft.geo.ConnectedComponents
import graft.graph.{Bfs, Hits, HyperBall, KCore, LabelPropagation}
import graft.pipeline.{Bpe, Clustering, EventAnalytics, Logistic, Similarity, Unigram}

/** The materialisation scope rule, end to end: after an operator's result
  * is collected, every persisted RDD left in the session is one the
  * result's executed plan reads — a checkpoint scan, or a cached relation
  * (followed into the cached relation's own plan). Anything else is a
  * leak that only a session-wide cache clear would free. Also: a failing
  * round frees what the scope made, and the scope never frees a frame its
  * caller persisted. */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("materialize-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Persisted RDD ids `plan` reads. An adaptive plan counts its input
    * plan too: when a scan turns out empty, AQE replaces the stages above
    * it with an empty relation, and the final plan no longer shows it. */
  private def readIds(plan: SparkPlan): Set[Int] =
    collectWithSubqueries(plan) {
      case a: AdaptiveSparkPlanExec => readIds(a.inputPlan)
      case s: RDDScanExec => Set(s.rdd.id)
      case s: InMemoryTableScanExec =>
        readIds(s.relation.cacheBuilder.cachedPlan) +
          s.relation.cacheBuilder.cachedColumnBuffers.id
    }.flatten.toSet

  /** Builds a result from a clean session, collects it, and asserts that
    * nothing persisted outlives it unread. */
  private def assertLeavesOnlyWhatItReads(what: String)(build: => DataFrame): Unit = {
    clearAll()
    val result = build
    result.collect()
    val leaked = persistedIds -- readIds(result.queryExecution.executedPlan)
    assert(leaked.isEmpty, s"$what leaves unread persisted RDDs $leaked")
  }

  private def graph: DataFrame = {
    import spark.implicits._
    // two dense clusters bridged by one edge, plus a tail
    val edges = for (a <- 1 to 6; b <- 1 to 6 if a != b) yield (a.toLong, b.toLong)
    val edges2 = for (a <- 10 to 14; b <- 10 to 14 if a != b) yield (a.toLong, b.toLong)
    (edges ++ edges2 ++ Seq(6L -> 10L, 10L -> 6L, 14L -> 20L, 20L -> 21L))
      .toDF("src", "dst")
  }

  private def corpus: DataFrame = {
    import spark.implicits._
    val words = Seq("the", "there", "then", "other", "weather", "gather",
      "rather", "lather", "hotel", "hostel", "mother", "brother")
    (1 to 40).map { i =>
      (i.toLong, (0 until 8).map(j => words((i * 7 + j * 5) % words.length)).mkString(" "),
        i % 2)
    }.toDF("doc_id", "text", "y")
  }

  private def vectors: DataFrame = {
    import spark.implicits._
    (1 to 30).map { i =>
      (i.toLong, Array.tabulate(4)(j => (((i * (j + 3)) % 11) - 5).toFloat + 0.5f * (i % 2)))
    }.toDF("vec_id", "embedding")
  }

  test("graph operators leave cached only what their result reads") {
    val seeds = spark.range(1, 2).toDF("node")
    assertLeavesOnlyWhatItReads("Bfs")(Bfs.distances(graph, "src", "dst", seeds, "node", 3))
    assertLeavesOnlyWhatItReads("KCore")(KCore.prune(graph, "src", "dst", k = 3, rounds = 3))
    assertLeavesOnlyWhatItReads("LabelPropagation")(
      LabelPropagation.run(graph, "src", "dst", rounds = 3))
    assertLeavesOnlyWhatItReads("HyperBall")(
      HyperBall.neighborhood(graph, "src", "dst", rounds = 2, k = 4))
    assertLeavesOnlyWhatItReads("Hits")(Hits.hits(graph, "src", "dst", rounds = 2))
    // localThreshold 0 forces the star-contraction rounds
    assertLeavesOnlyWhatItReads("ConnectedComponents")(ConnectedComponents.label(spark,
      graph.select(col("src").as("a"), col("dst").as("b")), localThreshold = 0L))
    assertLeavesOnlyWhatItReads("ConnectedComponents (small)")(ConnectedComponents.label(
      spark, graph.select(col("src").as("a"), col("dst").as("b"))))
  }

  test("pipeline operators leave cached only what their result reads") {
    assertLeavesOnlyWhatItReads("Bpe.mergeTable")(Bpe.mergeTable(corpus, "text", 6))
    assertLeavesOnlyWhatItReads("Bpe.tokenizedVocab")(Bpe.tokenizedVocab(corpus, "text", 6))
    assertLeavesOnlyWhatItReads("Bpe.tokenizeDocs")(
      Bpe.tokenizeDocs(corpus, "doc_id", "text", 6))
    assertLeavesOnlyWhatItReads("Unigram.train")(
      Unigram.train(corpus, "text", maxVocab = 20, minFreq = 2))
    assertLeavesOnlyWhatItReads("Unigram.tokenizeDocs")(
      Unigram.tokenizeDocs(corpus, "doc_id", "text", maxVocab = 20, minFreq = 2))
    assertLeavesOnlyWhatItReads("Clustering.kmeans")(
      Clustering.kmeans(vectors, "vec_id", "embedding", k = 3, iters = 2))
    assertLeavesOnlyWhatItReads("Logistic.trainPredict")(
      Logistic.trainPredict(corpus, "doc_id", "text", "y", nBuckets = 4, rounds = 2))
    assertLeavesOnlyWhatItReads("Similarity.mmrTopK")(Similarity.mmrTopK(vectors,
      vectors.where(col("vec_id") <= 2), "vec_id", "embedding", candK = 6, k = 3))
    val events = {
      import spark.implicits._
      (1 to 30).map(i => ((i % 7).toLong, i.toLong, Seq("view", "cart", "buy")(i % 3)))
        .toDF("user_id", "ts", "event_type")
    }
    assertLeavesOnlyWhatItReads("EventAnalytics.funnel")(EventAnalytics.funnel(events,
      "user_id", "ts", "event_type", Seq("view", "cart", "buy")))

    clearAll()
    assert(Logistic.trainWeights(corpus, "doc_id", "text", "y", 4, 2, 16L).nonEmpty)
    assert(persistedIds.isEmpty, "Logistic.trainWeights")
  }

  test("catalog queries reaching the iterative operators leave cached only what they read") {
    Seq("p31_bpe_vocab", "p33_bpe_encode", "p34_kmeans", "p49_label_propagation",
      "p53_kcore", "p54_bfs", "p71_hyperball", "p76_hits", "p100_logistic_quality",
      "pl3_history_cluster").foreach { q =>
      assertLeavesOnlyWhatItReads(q)(QueryCatalog.queries(q)(spark, "/root/testdata/sf0.001"))
    }
  }

  test("a round that throws frees every frame the scope created") {
    clearAll()
    val err = intercept[IllegalStateException] {
      Materialize.scoped { s =>
        val base = s.persist(spark.range(0, 100).toDF("id"))
        val lazyCp = s.checkpoint(base.select((col("id") * 2).as("id")), eager = false)
        s.iterate(lazyCp, 3) { (cur, r) =>
          if (r == 2) throw new IllegalStateException("round 2")
          cur.select((col("id") + 1).as("id"))
        }
      }
    }
    assert(err.getMessage == "round 2")
    assert(persistedIds.isEmpty)
  }

  test("the scope never frees a frame its caller persisted or checkpointed") {
    clearAll()
    val mine = graph.persist()
    mine.count()
    val myCp = graph.select(col("src")).localCheckpoint()
    val before = persistedIds
    assert(before.size == 2)
    // a scope asked to persist the caller's cached plan does not own it
    Materialize.scoped { s =>
      s.persist(mine).count()
      s.release(mine, myCp)
    }
    assert(persistedIds == before)
    // an operator over a caller-cached input frees only its own frames
    val labels = LabelPropagation.run(mine, "src", "dst", rounds = 2)
    labels.collect()
    assert(before.subsetOf(persistedIds))
    assert(spark.sharedState.cacheManager.lookupCachedData(mine).isDefined)
    assert((persistedIds -- before -- readIds(labels.queryExecution.executedPlan)).isEmpty)
    assert(myCp.count() == graph.count())
    clearAll()
  }
}
