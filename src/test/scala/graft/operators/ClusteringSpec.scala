package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // Three well-separated blobs in 4-d: cluster recovery must be exact.
  private def blobs = {
    val centers = Seq(
      Array(0.0, 0.0, 0.0, 0.0),
      Array(10.0, 10.0, 0.0, 0.0),
      Array(0.0, 10.0, 10.0, 10.0))
    (0L until 90L).map { i =>
      val c = centers((i % 3).toInt)
      // deterministic "noise" in [-0.4, 0.4] — far below the blob gap
      val eps = Array.tabulate(4)(j => ((i * 7 + j * 13) % 9 - 4) / 10.0)
      (i, c.zip(eps).map { case (a, b) => a + b }.toSeq)
    }.toDF("id", "vec")
  }

  test("recovers planted blobs exactly and reaches a fixed point") {
    val (assigned, model) = Clustering.kmeans(blobs, $"id", $"vec", k = 3, maxIters = 10)
    val rows = assigned.collect().map(r => r.getLong(0) -> r.getLong(1))
    // same blob -> same cluster, different blob -> different cluster
    val byBlob = rows.groupBy(_._1 % 3).map { case (b, xs) => b -> xs.map(_._2).toSet }
    assert(byBlob.values.forall(_.size == 1), s"blob split across clusters: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 3, "blobs merged")
    // Lloyd's invariants
    val inertia = model.inertia
    assert(inertia.zip(inertia.tail).forall { case (a, b) => b.compareTo(a) <= 0 },
      s"inertia must be monotone: $inertia")
    assert(model.iters < 10, "well-separated blobs must converge early")
  }

  test("fully deterministic: repartitioned input gives identical centroids") {
    val (_, m1) = Clustering.kmeans(blobs, $"id", $"vec", k = 3, maxIters = 5)
    val (_, m2) = Clustering.kmeans(blobs.repartition(13), $"id", $"vec", k = 3, maxIters = 5)
    assert(m1.centroids.length == m2.centroids.length)
    m1.centroids.zip(m2.centroids).foreach { case (a, b) =>
      assert(a.sameElements(b), "centroid drift across partitionings")
    }
    assert(m1.inertia == m2.inertia)
  }

  test("native distance expression is bit-identical to the HOF twin (float and double)") {
    val cents = Array(Array(0.1, -2.5, 3.0), Array(7.0, 0.3, -1.25))
    val dbl = Seq((1L, Seq(1.5, 2.25, -0.75)), (2L, Seq(-3.0, 0.1, 9.5)))
      .toDF("id", "vec")
    val flt = dbl.select($"id", $"vec".cast("array<float>").as("vec"))
    for (df <- Seq(dbl, flt)) {
      val rows = df.select(
        graft.expressions.GraftFunctions.l2sqDistances($"vec", cents).as("nat"),
        HofTwins.distances($"vec", cents).as("hof")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Double](0) == r.getSeq[Double](1), "native != HOF")
      }
    }
  }

  test("native distance expression throws loudly on a dimension mismatch") {
    // The HOF twin nulls the mismatched slot (zip_with pads with null), which
    // an argmin then silently eats; the native kernel refuses instead — an
    // upstream dimension bug must fail the job, not skew the clustering.
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("id", "vec")
    val cents = Array(Array(0.0, 0.0, 0.0))
    val e = intercept[Exception] {
      df.select(graft.expressions.GraftFunctions.l2sqDistances($"vec", cents)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("l2sq_distances")), e.toString)
  }

  test("assign is a pure function of the centroids (first-index tie break)") {
    val pts = Seq((1L, Seq(5.0, 0.0))).toDF("id", "vec")
    // equidistant centroids: the FIRST must win, deterministically
    val cents = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val got = Clustering.assign(pts, $"id", $"vec", cents).collect()
    assert(got.head.getLong(1) == 0L)
    assert(got.head.getDouble(2) == 25.0)
  }

  test("empty cluster keeps its previous centroid instead of crashing") {
    // 4 identical points, k = 2: one seed duplicates, its cluster empties
    val pts = (1L to 4L).map(i => (i, Seq(1.0, 1.0))).toDF("id", "vec")
    val (assigned, model) = Clustering.kmeans(pts, $"id", $"vec", k = 2, maxIters = 3)
    assert(model.centroids.length == 2)
    assert(assigned.select(countDistinct($"cluster")).head().getLong(0) == 1L)
  }

  test("semDedup collapses planted near-dup groups to their min id, keeps the rest") {
    // Two tight blobs of 4 near-identical vectors each (cosine ~ 1 within a
    // blob) plus orthogonal singletons that match nothing at tau = 0.9.
    val blobA = (1L to 4L).map(i => (i, Seq(1.0, 0.001 * i, 0.0)))
    val blobB = (11L to 14L).map(i => (i, Seq(0.0, 1.0, 0.001 * i)))
    val solo = Seq((21L, Seq(0.0, 0.0, 1.0)), (22L, Seq(-1.0, 0.0, 0.0)))
    val df = (blobA ++ blobB ++ solo).toDF("id", "vec")
    // k = 1 so the collapse semantics are tested independently of where the
    // seeded clustering happens to cut; cluster-bounded candidate generation
    // is pinned by the t57 gate (no surviving near-dup pair per cluster).
    val res = Clustering.semDedup(df, $"id", $"vec", k = 1, tau = 0.9)
    val survivors = res.filter($"survivor").select("id").collect()
      .map(_.getLong(0)).toSet
    val all = res.select("id").collect().map(_.getLong(0)).toSet
    assert(all == (1L to 4L).toSet ++ (11L to 14L).toSet ++ Set(21L, 22L))
    // each blob keeps exactly its min id; singletons always survive
    assert(survivors.contains(1L) && survivors.contains(11L))
    assert(survivors.contains(21L) && survivors.contains(22L))
    assert(!survivors.exists(id => (2L to 4L).contains(id) || (12L to 14L).contains(id)),
      s"non-minimal blob members must be dropped: $survivors")
    // survivor set is a pure function of the data: repartition-invariant
    val again = Clustering.semDedup(df.repartition(7), $"id", $"vec", k = 1, tau = 0.9)
    assert(res.exceptAll(again).isEmpty && again.exceptAll(res).isEmpty)
  }

  test("semDedup at an impossible tau keeps everything") {
    val df = (1L to 6L).map(i => (i, Seq(i.toDouble, 1.0))).toDF("id", "vec")
    val res = Clustering.semDedup(df, $"id", $"vec", k = 2, tau = 1.0000001)
    assert(res.filter(!$"survivor").count() == 0L)
  }
}
