package graft

import graft.ops.NearDup
import org.apache.spark.sql.functions._

/** The materialized banded-MinHash index ([[NearDup.minhashIndexWrite]]
  * / [[NearDup.minhashIndexProbe]]): probe results must equal the
  * inline signature computation (same xxhash64 family, so the index
  * adds persistence, never different answers), the layout must be the
  * documented per-band partitioning, and the meta guard must refuse a
  * mismatched hash family.
  */
class MinhashIndexSpec extends SparkSpec {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("mh_idx").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val baseText = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val editText =
    (1 to 30).map(i => if (i == 15) "CHANGED" else s"tok$i").mkString(" ")

  test("probe finds the exact and near dup, skips the unrelated doc, " +
    "and agrees with the inline signature computation") {
    import spark.implicits._
    val docs = (1L to 10L)
      .map(i => (i, if (i == 3L) baseText
        else s"corpus doc $i " + (1 to 25).map(j => s"w${i}_$j")
          .mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, baseText),                      // exact dup of corpus doc 3
      (102L, editText),                      // near dup (1 of 30 tokens)
      (103L, (1 to 30).map(i => s"zz$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val path = tmpDir()
    NearDup.minhashIndexWrite(spark, docs, path)
    val got = NearDup.minhashIndexProbe(spark, path, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(got.contains((101L, 3L)), s"exact dup not found: $got")
    assert(got((101L, 3L)) == 1.0, "exact dup must agree in every slot")
    assert(got.contains((102L, 3L)), s"near dup not found: $got")
    assert(!got.keys.exists(_._1 == 103L),
      s"unrelated probe doc produced pairs: $got")
    // the probe's estimate must EQUAL the inline signature agreement
    val sigs = NearDup.minhashSignatures(
        docs.unionByName(batch), 64)
      .filter(col("doc_id").isin(3L, 102L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val inline = sigs(102L).zip(sigs(3L)).count { case (a, b) => a == b }
      .toDouble / 64.0
    assert(got((102L, 3L)) == inline,
      s"probe est ${got((102L, 3L))} != inline $inline")
  }

  test("index layout: bands/ is partitioned by band_idx, meta records " +
    "the family, sigs/ holds the signatures") {
    import spark.implicits._
    val docs = (1L to 5L).map(i =>
      (i, (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val path = tmpDir()
    NearDup.minhashIndexWrite(spark, docs, path, numHashes = 32,
      bands = 8)
    val bandDirs = new java.io.File(s"$path/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("band_idx="))
    assert(bandDirs.toSet == (0 until 8).map(b => s"band_idx=$b").toSet,
      s"unexpected band partitions: ${bandDirs.mkString(",")}")
    val meta = spark.read.parquet(s"$path/meta")
      .select("num_hashes", "bands").collect()(0)
    assert(meta.getInt(0) == 32 && meta.getInt(1) == 8)
    assert(spark.read.parquet(s"$path/sigs").count() == 5)
  }

  test("on-disk layout is pinned: bands/ (band_hash, doc_id) by " +
    "band_idx, sigs/ (doc_id, sig array<bigint>), meta/") {
    // an index written by an earlier build must stay probe-compatible
    import spark.implicits._
    import org.apache.spark.sql.types._
    val docs = (1L to 4L).map(i =>
      (i, (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val path = tmpDir()
    NearDup.minhashIndexWrite(spark, docs, path)
    def fields(dir: String) = spark.read.parquet(s"$path/$dir").schema
      .map(f => f.name -> f.dataType).toMap
    assert(fields("bands") == Map("band_hash" -> LongType,
      "doc_id" -> LongType, "band_idx" -> IntegerType))
    val bandDirs = new java.io.File(s"$path/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(bandDirs == (0 until 16).map(b => s"band_idx=$b").toSet)
    val sigs = fields("sigs")
    assert(sigs.keySet == Set("doc_id", "sig") && sigs("doc_id") == LongType)
    assert(sigs("sig").asInstanceOf[ArrayType].elementType == LongType)
    assert(fields("meta") == Map("num_hashes" -> IntegerType,
      "bands" -> IntegerType))
  }

  test("meta guard refuses a probe with a mismatched hash family") {
    import spark.implicits._
    val docs = (1L to 3L).map(i =>
      (i, (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val path = tmpDir()
    NearDup.minhashIndexWrite(spark, docs, path)
    val e = intercept[IllegalArgumentException] {
      NearDup.minhashIndexProbe(spark, path, docs, numHashes = 32,
        bands = 8)
    }
    assert(e.getMessage.contains("was written with"))
  }

  test("streaming ingestion probes the index per micro-batch through " +
    "the idempotent foreachBatch sink") {
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = (1L to 8L).map(i =>
      (i, if (i == 2L) baseText
      else s"corpus doc $i " + (1 to 25).map(j => s"w${i}_$j")
        .mkString(" ")))
      .toDF("doc_id", "text")
    val path = tmpDir()
    NearDup.minhashIndexWrite(spark, docs, path)
    val outDir = tmpDir()
    val ckpt = tmpDir()
    val stream = MemoryStream[(Long, String)]
    stream.addData((101L, baseText),
      (102L, (1 to 30).map(i => s"zz$i").mkString(" ")))
    val q = graft.ops.TimeOps.foreachBatchSink(
        stream.toDF().toDF("doc_id", "text"), outDir, ckpt)(
        b => NearDup.minhashIndexProbe(spark, path, b))
      .start()
    q.processAllAvailable()
    stream.addData((103L, editText)) // near dup arrives a batch later
    q.processAllAvailable()
    q.stop()
    val pairs = spark.read.parquet(outDir)
      .select("probe_doc", "corpus_doc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((101L, 2L)) && pairs.contains((103L, 2L)),
      s"streamed probes missed the planted dups: $pairs")
    assert(!pairs.exists(_._1 == 102L),
      s"unrelated streamed doc produced pairs: $pairs")
  }

  test("rewrite is idempotent: second write, same probe result") {
    import spark.implicits._
    val docs = (1L to 6L).map(i =>
      (i, if (i == 2L) baseText
      else (1 to 20).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq((200L, baseText)).toDF("doc_id", "text")
    val path = tmpDir()
    NearDup.minhashIndexWrite(spark, docs, path)
    val first = NearDup.minhashIndexProbe(spark, path, batch).collect()
    NearDup.minhashIndexWrite(spark, docs, path)
    val second = NearDup.minhashIndexProbe(spark, path, batch).collect()
    assert(first.map(_.toString).sorted.sameElements(
      second.map(_.toString).sorted))
    assert(first.exists(r => r.getLong(0) == 200L && r.getLong(1) == 2L
      && r.getDouble(2) == 1.0))
  }
}
