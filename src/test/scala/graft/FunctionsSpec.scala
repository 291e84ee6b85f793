package graft

import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("Num.cents is exact on the cent grid including negatives") {
    val df = Seq(68423.46, 0.01, -994.28, 33.15, 0.0).toDF("x")
      .select(Num.cents(col("x")).as("c"))
    assert(df.as[Long].collect().toSeq == Seq(6842346L, 1L, -99428L, 3315L, 0L))
  }

  test("Num.hms renders seconds-of-day") {
    val df = Seq(0L, 59L, 3661L, 86400L + 61L).toDF("s")
      .select(Num.hms(col("s")).as("h"))
    assert(df.as[String].collect().toSeq ==
      Seq("00:00:00", "00:00:59", "01:01:01", "00:01:01"))
  }

  test("normalizeTitle mirrors the reference fix_title chain") {
    val cases = Seq(
      "Song (Live) [2019 Remaster]" -> "song",
      "Album | Part -tag- 2 OST" -> "album part 2",
      "Great Hits 1999 Full Album" -> "great hits",
      "A:B" -> "a b")
    val df = Text.withFixedTitle(cases.map(_._1).toDF("t"), col("t"))
      .select("normalized")
    assert(df.as[String].collect().toSeq == cases.map(_._2))
  }

  test("fixTitle per-step backstop and loose-dash/apostrophe fidelity") {
    // cases from the reference docstring (spotify_elt.py:163-165): a title
    // emptied by a step is reset to the ORIGINAL, later steps still apply
    val cases = Seq(
      "[Full Album]" -> "[]", // step 1 undone, step 9 leaves the brackets
      "(2021)" -> "()", // step 1 undone, year stripped inside parens
      "【Complete】" -> "【Complete】", // step 1 undone, nothing else matches
      "Track ‘quoted‘ remix" -> "Track 'quoted' remix",
      "a - b" -> "a  b", // \B-\B loose dash, no -…- divider span
      "1999" -> "1999") // a bare year survives its own removal step
    val df = Text.withFixedTitle(cases.map(_._1).toDF("t"), col("t"))
      .select("fixed_title")
    assert(df.as[String].collect().toSeq == cases.map(_._2))
  }

  test("iso8601Ms parses PTnHnMnS with optional components") {
    val df = Seq("PT1H2M3S", "PT45M10S", "PT7S", "PT2H", "").toDF("t")
      .select(Text.iso8601Ms(col("t")))
    assert(df.as[Long].collect().toSeq ==
      Seq(3723000L, 2710000L, 7000L, 7200000L, 0L))
  }

  test("Vectors.dot is null on length mismatch instead of truncating") {
    val df = Seq(
      (Array(1.0, 2.0), Array(3.0, 4.0, 5.0)),
      (Array(1.0, 2.0), Array(3.0, 4.0)))
      .toDF("a", "b").select(Vectors.dot(col("a"), col("b")).as("d"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
      .toSeq == Seq(None, Some(11.0)))
  }

  test("Vectors.nearestCentroid mirrors the crossJoin+window argmax semantics") {
    // codebook: three axis-aligned unit centroids with ids out of order
    val cids = Array(3L, 1L, 2L)
    val cents = Array(1.0, 0, 0, 0, 1.0, 0, 0, 0, 1.0)
    val cnorms = Array(1.0, 1.0, 1.0)
    def assignOf(rows: Seq[(Long, Seq[Double])], ids: Array[Long] = cids,
        cs: Array[Double] = cents, ns: Array[Double] = cnorms): Map[Long, Any] =
      rows.toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
        .select(col("id"), Vectors.nearestCentroid(col("v"), ids, cs, ns).as("c"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val out = assignOf(Seq(
      10L -> Seq(5.0, 1.0, 0.0), // dominant axis 0 → c_id 3
      11L -> Seq(0.0, 2.0, 0.1), // dominant axis 1 → c_id 1
      12L -> Seq(1.0, 1.0, 0.0), // exact cosine tie axis0/axis1 → smaller id 1
      13L -> Seq(0.0, 0.0, 0.0))) // zero vector: every cosine NaN → smallest id 1
    assert(out == Map(10L -> 3L, 11L -> 1L, 12L -> 1L, 13L -> 1L))
    // zero-norm CENTROID: its NaN cosine ranks above every finite value
    // (Spark SQL double ordering), exactly like the window it replaces
    val zc = assignOf(Seq(20L -> Seq(1.0, 0.0)),
      ids = Array(5L, 4L), cs = Array(1.0, 0.0, 0.0, 0.0), ns = Array(1.0, 0.0))
    assert(zc == Map(20L -> 4L))
    // dimension mismatch with the codebook → null, never a silent argmax
    val bad = assignOf(Seq(30L -> Seq(1.0, 2.0)))
    assert(bad(30L) == null)
  }

  test("Vectors.nearestCentroids: top-p assignment matches a local reference; element 0 equals the singular kernel (r16)") {
    // 5 centroids, ids deliberately out of order; 16 deterministic query
    // vectors — the reference ranks every centroid by (cosine with NaN
    // greatest) desc, then id asc, exactly the singular kernel's order
    val cids = Array(7L, 2L, 9L, 4L, 5L)
    val dim = 4
    val cents = Array.tabulate(cids.length * dim)(i =>
      (((i * 13 + 5) % 11) - 5).toDouble)
    val cnorms = Array.tabulate(cids.length) { c =>
      math.sqrt((0 until dim).map(d => cents(c * dim + d))
        .foldLeft(0.0)((s, x) => s + x * x))
    }
    val rows = (0 until 16).map(i =>
      i.toLong -> (0 until dim).map(d => (((i * 7 + d * 3) % 9) - 4).toDouble))
    def localRank(v: Seq[Double]): Seq[Long] = {
      val vn = math.sqrt(v.foldLeft(0.0)((s, x) => s + x * x))
      cids.indices.map { c =>
        var dot = 0.0
        (0 until dim).foreach(d => dot += v(d) * cents(c * dim + d))
        (dot / (vn * cnorms(c)), cids(c))
      }.sortWith { case ((ca, ia), (cb, ib)) =>
        val na = ca.isNaN; val nb = cb.isNaN
        if (na != nb) na // NaN greatest
        else if (na) ia < ib
        else if (ca != cb) ca > cb else ia < ib
      }.map(_._2)
    }
    val out = rows.toDF("id", "v")
      .select(col("id"),
        Vectors.nearestCentroids(col("v"), cids, cents, cnorms, 3).as("top"),
        Vectors.nearestCentroid(col("v"), cids, cents, cnorms).as("one"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2)))).toMap
    for ((id, v) <- rows) {
      val (top, one) = (out(id)._1, out(id)._2)
      assert(top == localRank(v).take(3), s"vector $id: $top vs reference")
      assert(top.head == one, s"vector $id: element 0 must equal nearestCentroid")
    }
    // zero vector: every cosine NaN → ties resolve to ascending ids
    val z = Seq(99L -> Seq(0.0, 0.0, 0.0, 0.0)).toDF("id", "v")
      .select(Vectors.nearestCentroids(col("v"), cids, cents, cnorms, 3).as("t"))
      .head().getSeq[Long](0)
    assert(z == Seq(2L, 4L, 5L))
    // p > k clamps; dimension mismatch is null, never a silent ranking
    val wide = Seq(1L -> Seq(1.0, 0.0, 0.0, 0.0)).toDF("id", "v")
      .select(Vectors.nearestCentroids(col("v"), cids, cents, cnorms, 9).as("t"))
      .head().getSeq[Long](0)
    assert(wide.length == cids.length)
    val bad = Seq(1L -> Seq(1.0, 0.0)).toDF("id", "v")
      .select(Vectors.nearestCentroids(col("v"), cids, cents, cnorms, 3).as("t"))
      .head()
    assert(bad.isNullAt(0))
  }
}
