package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Vectors
import graft.operators.{AnnIndex, Bpe, Dedup, Multimodal, TextAnalysis}

/** The persisted-artifact lifecycle, one row per [[AnnIndex.families]]
  * descriptor ("no stale serve"): fit, rewrite the source table IN PLACE
  * in the same session, serve again. The family's fit counter rises by
  * exactly one, the serve equals a fresh build of the new content, and
  * nothing is read from the old version's chain.
  */
class ArtifactLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def e(d: String): DataFrame =
    spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))

  private def sigs(marker: String, enc: DataFrame => DataFrame): String => DataFrame =
    d => AnnIndex.textSigs(spark, d, marker, enc)

  /** Each family's serve entry, by marker. */
  private val serves: Map[String, String => DataFrame] = Map(
    "IVF2" -> (d => AnnIndex.ivf(spark, d, e(d))._2),
    "PQ2" -> (d => AnnIndex.pq(spark, d, e(d))._3),
    "LSH2" -> (d => AnnIndex.lsh(spark, d, e(d))._4),
    "IPQ2" -> (d => AnnIndex.ivfpq(spark, d, e(d))._3),
    "LXT" -> (d => AnnIndex.lex(spark, d)._1),
    "THM" -> (d => AnnIndex.docHashes(spark, d)),
    "EHM" -> (d => AnnIndex.vecHashes(spark, d)),
    "NG" -> sigs("NG", Dedup.ngEncode),
    "MH" -> sigs("MH", Dedup.mhEncode),
    "SH" -> sigs("SH", Dedup.shEncode),
    "WC" -> sigs("WC", Bpe.wcEncode),
    "WN" -> sigs("WN", TextAnalysis.wnEncode),
    "LP" -> sigs("LP", TextAnalysis.lpEncode),
    "DS" -> sigs("DS", TextAnalysis.dsEncode),
    "BIN" -> sigs("BIN", Multimodal.binSigs),
    "BPE" -> (d => AnnIndex.bpeVocab(spark, d)._1),
    "CC" -> (d => Dedup.clusterIndex(spark, d)),
    "EP" -> (d => AnnIndex.embedPairs(spark, d)._1),
    "EC" -> (d => AnnIndex.ecLabels(spark, d)),
    "KN" -> (d => AnnIndex.knnPairs(spark, d)),
    "KL" -> (d => AnnIndex.knLabels(spark, d)),
    "MP2" -> (d => AnnIndex.mhPairs(spark, d)._1),
    "SP2" -> (d => AnnIndex.shPairs(spark, d)._1),
    "NP2" -> (d => AnnIndex.ngPairs(spark, d)._1))

  /** A small corpus whose every row changes with `seed`: 60 documents
    * (exact and near duplicates included) and 120 smooth 8-dim vectors
    * (neighbors close, 20 exact duplicates).
    */
  private def writeCorpus(d: String, seed: Int): Unit = {
    val vocab = (0 until 30).map(i => s"w${i}s$seed")
    (0 until 60).map { i =>
      val j = if (i >= 50) i - 50 else i
      val words = (0 until 12).map(k =>
        if (k == j % 12) s"u$j" else vocab((j * 3 + k * 7) % 30))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
      .repartition(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    (0 until 120).map { i =>
      val r = i % 100
      (i.toLong, Array.tabulate(8)(j => math.sin(r * 0.05 + j * 1.3 + seed * 2.1).toFloat))
    }.toDF("vec_id", "embedding")
      .repartition(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
  }

  /** The version dirs (under `root`) a served frame reads. */
  private def versionsRead(df: DataFrame, root: String): Set[String] =
    df.inputFiles.toSet.filter(_.contains(root))
      .map(p => p.substring(p.indexOf(root) + root.length + 1).split("/").take(2).mkString("/"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rmTree(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
    try st.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
    finally st.close()
  }

  test("every family descriptor has a lifecycle row") {
    assert(AnnIndex.families.map(_.marker).toSet == serves.keySet)
    assert(AnnIndex.families.map(_.marker).distinct.size == AnnIndex.families.size)
  }

  for (fam <- AnnIndex.families)
    test(s"${fam.marker}: an in-place rewrite refits once and serves only the new content") {
      val serve = serves(fam.marker)
      val (d, root, freshRoot) = (tmp("graftlife"), tmp("graftliferoot"), tmp("graftlifefresh"))
      try {
        spark.conf.set("graft.ann.indexRoot", root)
        writeCorpus(d, 0)
        val before = versionsRead(serve(d), root)
        assert(before.nonEmpty, "the first serve must read a persisted version")
        writeCorpus(d, 1) // same path, same row counts, new content
        val f0 = fam.fits.get()
        val after = serve(d)
        assert(fam.fits.get() == f0 + 1, s"${fam.marker} must refit exactly once")
        val read = versionsRead(after, root)
        assert(read.nonEmpty && read.intersect(before).isEmpty,
          s"${fam.marker} served the old version's chain: $read vs $before")
        val served = rowsOf(after)
        spark.conf.set("graft.ann.indexRoot", freshRoot)
        assert(served == rowsOf(serve(d)),
          s"${fam.marker} serve differs from a fresh build of the new content")
      } finally {
        spark.conf.unset("graft.ann.indexRoot")
        Seq(d, root, freshRoot).foreach(rmTree)
      }
    }
}
