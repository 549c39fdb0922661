package graft.ml

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def pts(ps: (Double, Double, Int)*) = ps.toDF("lat", "lon", "cnt")

  private val blobs = pts(
    (0.0, 0.0, 1), (0.1, 0.0, 1), (0.0, 0.1, 1),   // blob A around (0.033, 0.033)
    (10.0, 10.0, 1), (10.1, 10.0, 1), (10.0, 10.1, 1)) // blob B

  test("M2: k=2 on separable blobs converges to the blob means") {
    val r = KMeans.fit(blobs, k = 2, seed = 1L)
    assert(r.converged)
    val cs = r.centroids.map(c => (c.lat, c.lon)).sortBy(_._1)
    assert(cs(0) == (0.033, 0.033))   // 3-dp HALF_UP weighted mean
    assert(cs(1) == (10.033, 10.033))
  }

  test("A10: recenter is the count-weighted mean, rounded 3dp HALF_UP") {
    val p = pts((1.0, 0.0, 3), (2.0, 0.0, 1)) // weighted mean lat = 1.25
    val assigned = KMeans.assign(p, Seq(Centroid(0, 0.0, 0.0)))
    val r = KMeans.recenter(assigned, Seq(Centroid(0, 0.0, 0.0)))
    assert(r.head.lat == 1.25 && r.head.lon == 0.0)
    // HALF_UP at the 3rd decimal: 0.0005 → 0.001
    val p2 = pts((0.0005, 0.0, 1))
    val r2 = KMeans.recenter(KMeans.assign(p2, Seq(Centroid(0, 0.0, 0.0))),
      Seq(Centroid(0, 0.0, 0.0)))
    assert(r2.head.lat == 0.001)
  }

  test("J4: assignment takes the FIRST minimum on ties") {
    val p = pts((5.0, 0.0, 1)) // equidistant from centroids 0 and 1
    val assigned = KMeans.assign(p,
      Seq(Centroid(0, 0.0, 0.0), Centroid(1, 10.0, 0.0)))
    assert(assigned.select("cidx").as[Int].head() == 0)
  }

  test("assignment and recenter honor non-contiguous centroid idxs") {
    // golden-file inits may carry arbitrary idxs; cidx must be the
    // centroid's OWN idx, not its array position
    val p = pts((0.0, 0.0, 1), (10.0, 10.0, 1))
    val prev = Seq(Centroid(7, 0.0, 0.0), Centroid(3, 10.0, 10.0))
    val assigned = KMeans.assign(p, prev)
    val byIdx = assigned.select("lat", "cidx").collect()
      .map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(byIdx(0.0) == 7 && byIdx(10.0) == 3)
    val r = KMeans.recenter(assigned, prev).sortBy(_.idx)
    assert(r == Seq(Centroid(3, 10.0, 10.0), Centroid(7, 0.0, 0.0)))
  }

  test("empty clusters keep their previous centroid") {
    val p = pts((0.0, 0.0, 1))
    val prev = Seq(Centroid(0, 0.0, 0.0), Centroid(1, 99.0, 99.0))
    val r = KMeans.recenter(KMeans.assign(p, prev), prev)
    assert(r(1) == Centroid(1, 99.0, 99.0))
  }

  test("fit rejects k < 1, an empty init and repeated idxs, naming the " +
      "bad value") {
    val zero = intercept[IllegalArgumentException](
      KMeans.fit(blobs, k = 0, seed = 1L))
    assert(zero.getMessage.contains("k=0"), zero.getMessage)
    val empty = intercept[IllegalArgumentException](
      KMeans.fitWithInit(blobs, Seq.empty))
    assert(empty.getMessage.contains("initial centroid"), empty.getMessage)
    // a repeated idx would merge both centroids into one cluster's mean
    val dup = intercept[IllegalArgumentException](
      KMeans.fitWithInit(blobs, Seq(Centroid(4, 0.0, 0.0),
        Centroid(2, 5.0, 5.0), Centroid(4, 10.0, 10.0))))
    assert(dup.getMessage.contains("idx=4"), dup.getMessage)
  }

  test("M3: convergence threshold is ≤ 0.001 on BOTH axes") {
    val a = Seq(Centroid(0, 1.0, 1.0))
    assert(KMeans.converged(a, Seq(Centroid(0, 1.001, 1.001))))
    assert(!KMeans.converged(a, Seq(Centroid(0, 1.002, 1.0))))
  }

  test("M4: silhouette near 1 for tight separated blobs, ordered sanely") {
    val r = KMeans.fit(blobs, k = 2, seed = 1L)
    val s2 = Silhouette.score(blobs, r.centroids)
    assert(s2 > 0.99, s"s2=$s2") // squared-distance simplified silhouette
    // degenerate k=1 scores 0
    assert(Silhouette.score(blobs, Seq(Centroid(0, 5.0, 5.0))) == 0.0)
  }

  test("M5/M6: sweep picks the separable k") {
    val entries = ModelSelect.sweep(blobs, Seq(2, 3), seed = 1L)
    assert(ModelSelect.best(entries).k == 2)
  }

  test("M6: summary report replicates the reference's Summary.txt shape") {
    val report = ModelSelect.summaryReport(
      SweepEntry(2, 0.9771, 6, converged = true),
      Seq(Centroid(1, 40.657, -73.922), Centroid(0, 40.742, -73.976)))
    assert(report == Seq(
      "Max SilScore:0.9771 at kValue:2 at iteration:6",
      "Corresponding centroids",
      "0. Lat:40.742 Longitude:-73.976",
      "1. Lat:40.657 Longitude:-73.922"))
  }

  test("batched sweep is job-batched but math-identical to sequential fits") {
    val noisy = pts((0.0, 0.0, 2), (0.4, 0.1, 1), (3.0, 2.0, 1),
      (10.0, 10.0, 3), (9.5, 10.5, 1), (5.0, 5.0, 1), (6.0, 4.0, 2))
    val entries = ModelSelect.sweep(noisy, Seq(2, 3, 4), seed = 7L,
      maxIter = 15)
    entries.foreach { e =>
      val fit = KMeans.fit(noisy, e.k, seed = 7L, maxIter = 15)
      assert(fit.iterations == e.iterations, s"k=${e.k}")
      assert(fit.converged == e.converged, s"k=${e.k}")
      // partial sums may merge in another order → compare to ULP tolerance
      val sil = Silhouette.score(noisy, fit.centroids)
      assert(math.abs(sil - e.silScore) < 1e-12, s"k=${e.k}")
    }
  }

  /** A deterministic cloud where ks 2..5 converge after different numbers
    * of rounds, so the set of active ks shrinks during the sweep. */
  private lazy val cloud = pts((0 until 60).map { i =>
    val r = new scala.util.Random(i.toLong)
    val (cLat, cLon) = Seq((0.0, 0.0), (4.0, 1.0), (1.0, 5.0), (6.0, 6.0))(i % 4)
    (cLat + r.nextGaussian(), cLon + r.nextGaussian(), 1 + i % 3)
  }: _*)

  test("sweep leaves a caller's cache in place and drops only its own") {
    val cached = cloud.filter($"cnt" > 1).persist(StorageLevel.MEMORY_ONLY)
    try {
      cached.count()
      ModelSelect.sweep(cached, Seq(2, 3), seed = 3L, maxIter = 3)
      assert(cached.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally { cached.unpersist(blocking = true); () }
    val uncached = cloud.filter($"cnt" < 3)
    ModelSelect.sweep(uncached, Seq(2, 3), seed = 3L, maxIter = 3)
    assert(uncached.storageLevel == StorageLevel.NONE)
  }

  test("sweep rejects k < 1 and repeated ks, naming the bad k") {
    val zero = intercept[IllegalArgumentException](
      ModelSelect.sweep(blobs, Seq(2, 0), seed = 1L))
    assert(zero.getMessage.contains("k=0"), zero.getMessage)
    val dup = intercept[IllegalArgumentException](
      ModelSelect.sweep(blobs, Seq(3, 2, 3), seed = 1L))
    assert(dup.getMessage.contains("k=3"), dup.getMessage)
  }

  /** An uncached copy of `cloud` and the number of its rows evaluated so
    * far (a counting UDF on lat). Its rows come from an RDD: the optimizer
    * evaluates a projection of a local relation itself, once per plan. */
  private def countedCloud(name: String) = {
    val evaluated = spark.sparkContext.longAccumulator(name)
    val counted = udf { (lat: Double) => evaluated.add(1); lat }
      .asNondeterministic()
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(cloud.collect().toSeq, 3), cloud.schema)
    (rows.withColumn("lat", counted(col("lat"))), evaluated)
  }

  test("a sweep is rounds + 2 Dataset actions over one evaluation of its " +
      "points, and rounds 2..n compile no new class") {
    val ks = Seq(2, 3, 4, 5)
    val (source, evaluated) = countedCloud("kmeans-source-rows")
    // one round compiles every plan a sweep has: bounding box, round,
    // silhouettes
    actionsOf(ModelSelect.sweep(source, ks, seed = 11L, maxIter = 1))
    val compiled = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    evaluated.reset()
    var entries = Seq.empty[SweepEntry]
    val names = actionsOf {
      entries = ModelSelect.sweep(source, ks, seed = 11L, maxIter = 20)
    }.map(_._1)
    assert(CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount == compiled,
      "a later round or the silhouettes compiled new code")
    val rounds = entries.map(_.iterations).max
    assert(rounds >= 3 && entries.map(_.iterations).distinct.size > 1,
      s"the cloud should need several rounds with shrinking ks: $entries")
    // bounding box, every round, silhouettes: one action each, and none
    // of them a planning-time `rdd` action
    assert(names.size == rounds + 2 && !names.contains("rdd"), s"$names")
    // the sweep's cache is built once and every pass reads it
    assert(evaluated.sum == cloud.count(),
      s"the sweep evaluated ${evaluated.sum} source rows")
  }

  test("every pass of a sweep and of a fit re-runs one planned query") {
    var entries = Seq.empty[SweepEntry]
    val sweep = actionsOf {
      entries = ModelSelect.sweep(cloud, Seq(2, 3, 4, 5), seed = 11L)
    }.map(_._2)
    assert(sweep.size == entries.map(_.iterations).max + 2, s"$sweep")
    assert(sweep.forall(_ eq sweep.head),
      "a sweep pass planned a query of its own")
    var fit: KMeansResult = null
    val fitted = actionsOf { fit = KMeans.fit(cloud, k = 4, seed = 11L) }
      .map(_._2)
    assert(fitted.size == fit.iterations + 1 && fit.iterations > 1,
      s"$fitted")
    assert(fitted.forall(_ eq fitted.head),
      "a fit pass planned a query of its own")
  }

  test("fit, fitWithInit and Silhouette.score evaluate an uncached source " +
      "once and release what they persisted") {
    val (source, evaluated) = countedCloud("kmeans-fit-source-rows")
    val n = cloud.count()
    val init = Seq(Centroid(0, 0.0, 0.0), Centroid(1, 4.0, 1.0),
      Centroid(2, 1.0, 5.0))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val calls: Seq[(String, () => Any)] = Seq(
      "fit" -> (() => assert(KMeans.fit(source, 4, seed = 11L).iterations > 1)),
      "fitWithInit" -> (() =>
        assert(KMeans.fitWithInit(source, init).iterations > 1)),
      "score" -> (() => Silhouette.score(source, init)),
      "sweep" -> (() => ModelSelect.sweep(source, Seq(2, 3), seed = 11L)))
    calls.foreach { case (name, call) =>
      evaluated.reset()
      call()
      assert(evaluated.sum == n,
        s"$name evaluated ${evaluated.sum} source rows for $n")
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
        s"$name left an RDD persisted")
    }
  }

  test("fit, fitWithInit and sweep reject a NaN or infinite coordinate, " +
      "naming the column and the value") {
    val nanLat = blobs.union(pts((Double.NaN, 0.0, 1)))
    val infLon = blobs.union(pts((0.0, Double.PositiveInfinity, 1)))
    val negInfLat = blobs.union(pts((Double.NegativeInfinity, 0.0, 1)))
    val init = Seq(Centroid(0, 0.0, 0.0), Centroid(1, 10.0, 10.0))
    val bad: Seq[(String, () => Any)] = Seq(
      "lat=NaN" -> (() => KMeans.fit(nanLat, 2, seed = 1L)),
      "lon=Infinity" -> (() => KMeans.fit(infLon, 2, seed = 1L)),
      "lon=Infinity" -> (() => ModelSelect.sweep(infLon, Seq(2, 3), 1L)),
      "lat=-Infinity" -> (() => ModelSelect.sweep(negInfLat, Seq(2), 1L)),
      // no bounding box: the round's mean names the value
      "lat=NaN" -> (() => KMeans.fitWithInit(nanLat, init)),
      "lat=-Infinity" -> (() => KMeans.fitWithInit(negInfLat, init)),
      "lon=NaN" -> (() => KMeans.fitWithInit(blobs,
        Seq(Centroid(0, 0.0, Double.NaN), Centroid(1, 10.0, 10.0)))))
    bad.foreach { case (value, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(value), e.getMessage)
    }
    // the bounding box keeps SQL min/max: NaN ranks above every number
    assert(KMeans.bbox(nanLat)._2.isNaN)
  }

  /** (kind, SQL execution id, job description) of every job and stage
    * `body` runs, in listener order: its jobs carry their own job group,
    * and a marker job in a second group, seen after them on the listener
    * bus, proves every earlier event was delivered. */
  private def jobEvents(body: => Unit): Seq[(String, Long, String)] = {
    val group = "kmeans-round-jobs"
    val marker = "kmeans-round-jobs-marker"
    val events =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    val done = new java.util.concurrent.CountDownLatch(1)
    def record(kind: String, props: java.util.Properties): Unit =
      if (props != null) props.getProperty("spark.jobGroup.id") match {
        case `group` => Option(props.getProperty("spark.sql.execution.id"))
          .foreach(id => events.add((kind, id.toLong,
            props.getProperty("spark.job.description"))))
        case `marker` => done.countDown()
        case _ =>
      }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        record("job", e.properties)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        record("stage", e.properties)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "k-means rounds")
      try {
        body
        assert(sc.getLocalProperty("spark.job.description") ==
          "k-means rounds", "the caller's job description was not restored")
      } finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    events.toArray(Array.empty[(String, Long, String)]).toSeq
  }

  /** (jobs, stages) of every SQL execution `body` runs, in execution
    * order. */
  private def jobsAndStages(body: => Unit): Seq[(Int, Int)] = {
    val byExec = jobEvents(body).groupBy(_._2)
    byExec.keys.toSeq.sorted.map { id =>
      val kinds = byExec(id).map(_._1)
      (kinds.count(_ == "job"), kinds.count(_ == "stage"))
    }
  }

  test("every Lloyd round of a sweep and of a fit is one job with one " +
      "stage") {
    // and so is every other action: the bounding box and the silhouettes
    var entries = Seq.empty[SweepEntry]
    val sweep = jobsAndStages {
      entries = ModelSelect.sweep(cloud, Seq(2, 3, 4, 5), seed = 11L)
    }
    // bounding box, rounds, silhouettes
    val rounds = entries.map(_.iterations).max
    assert(sweep == Seq.fill(rounds + 2)((1, 1)), s"$sweep")

    var fit: KMeansResult = null
    val fitted = jobsAndStages {
      fit = KMeans.fit(cloud, k = 4, seed = 11L)
    }
    // bounding box, rounds
    assert(fitted == Seq.fill(fit.iterations + 1)((1, 1)), s"$fitted")
  }

  test("k-means jobs are described by operation and pass, and the " +
      "caller's description comes back, also after a failed round") {
    def descriptions(body: => Unit): Seq[String] =
      jobEvents(body).filter(_._1 == "job").map(_._3)
    var entries = Seq.empty[SweepEntry]
    val sweep = descriptions {
      entries = ModelSelect.sweep(cloud, Seq(2, 3), seed = 11L)
    }
    val rounds = entries.map(_.iterations).max
    assert(sweep == "graft.ml.sweep bbox" +:
      (1 to rounds).map(n => s"graft.ml.sweep round $n") :+
      "graft.ml.sweep silhouettes", s"$sweep")
    var fit: KMeansResult = null
    val fitted = descriptions { fit = KMeans.fit(cloud, k = 3, seed = 11L) }
    assert(fitted == "graft.ml.fit bbox" +:
      (1 to fit.iterations).map(n => s"graft.ml.fit round $n"), s"$fitted")

    // one partition whose weights overflow a long: round 1's task fails
    val overflow = pts((0.0, 0.0, 1), (0.0, 0.0, 1))
      .withColumn("cnt", col("cnt").cast("long") * Long.MaxValue)
      .coalesce(1)
    val sc = spark.sparkContext
    sc.setJobDescription("the caller's")
    try {
      intercept[Exception](KMeans.fit(overflow, k = 1, seed = 1L))
      assert(sc.getLocalProperty("spark.job.description") == "the caller's")
      assert(sc.getLocalProperty("spark.jobGroup.id") == null,
        "k-means set a job group")
    } finally sc.setJobDescription(null)
  }

  test("fit, fitWithInit and sweep reject maxIter < 1 and a negative or " +
      "NaN tol, naming the bad value") {
    val init = Seq(Centroid(0, 0.0, 0.0), Centroid(1, 10.0, 10.0))
    val bad: Seq[(String, () => Any)] = Seq(
      "maxIter=0" -> (() => KMeans.fit(blobs, 2, seed = 1L, maxIter = 0)),
      "maxIter=-3" -> (() => KMeans.fitWithInit(blobs, init, maxIter = -3)),
      "maxIter=0" -> (() => ModelSelect.sweep(blobs, Seq(2), 1L, maxIter = 0)),
      "tol=-0.001" -> (() => KMeans.fit(blobs, 2, seed = 1L, tol = -0.001)),
      "tol=NaN" -> (() => KMeans.fitWithInit(blobs, init, tol = Double.NaN)),
      "tol=NaN" -> (() => ModelSelect.sweep(blobs, Seq(2), 1L,
        tol = Double.NaN)))
    bad.foreach { case (value, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains(value), e.getMessage)
    }
    // a zero tolerance is a legal, if strict, bound
    assert(KMeans.fitWithInit(blobs, init, tol = 0.0).converged)
  }

  test("best of no sweep entries fails with a message") {
    val e = intercept[IllegalArgumentException](ModelSelect.best(Seq.empty))
    assert(e.getMessage.contains("at least one sweep entry"), e.getMessage)
  }
}
