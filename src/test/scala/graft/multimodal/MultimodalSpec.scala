package graft.multimodal

import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftTestSession

/** The multimodal plumbing contract: BinaryType schema, shuffle-free
  * narrow transforms, deterministic stub decode, bounded frame fan-out.
  */
class MultimodalSpec extends AnyFunSuite with GraftTestSession {

  private val sf = "/root/testdata/sf0.001"

  test("assets: payload is BinaryType and kinds partition the corpus") {
    val ds = Multimodal.assets(spark, sf)
    assert(ds.schema("payload").dataType == BinaryType)
    val kinds = ds.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.keySet == Set("image", "audio", "video"))
    assert(kinds.values.sum == ds.count())
  }

  test("feature extraction is a narrow transform: partition count preserved, no shuffle") {
    val ds = Multimodal.assets(spark, sf).repartition(7)
    val feats = Multimodal.extractFeatures(ds)
    assert(feats.rdd.getNumPartitions == 7, "mapPartitions must not reshuffle")
    val plan = feats.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "no hash exchange may appear between assets and features")
  }

  test("stub decode is deterministic and feature values are sane") {
    val f1 = Multimodal.extractFeatures(Multimodal.assets(spark, sf)).collect()
    val f2 = Multimodal.extractFeatures(Multimodal.assets(spark, sf)).collect()
    assert(f1.map(_.asset_id).sorted.sameElements(f2.map(_.asset_id).sorted))
    val m1 = f1.map(f => f.asset_id -> f).toMap
    f2.foreach(f => assert(m1(f.asset_id) == f, "decode must be deterministic"))
    f1.foreach { f =>
      assert(f.n_distinct_bytes > 0 && f.n_distinct_bytes <= 256)
      assert(f.width >= 16 && f.width < 80 && f.height >= 16 && f.height < 80)
      assert(f.n_bytes > 0)
    }
  }

  test("resize caps the longest side and preserves orientation") {
    val feats = Multimodal.extractFeatures(Multimodal.assets(spark, sf))
    val resized = Multimodal.resizeMeta(feats, 32).collect()
    val orig = feats.collect().map(f => f.asset_id -> f).toMap
    resized.foreach { r =>
      assert(math.max(r.width, r.height) <= 32)
      val o = orig(r.asset_id)
      if (o.width > o.height) assert(r.width >= r.height)
      if (o.width < o.height) assert(r.width <= r.height)
    }
  }

  test("frame sampling: only videos, dense 0-based indices, <= 8 frames") {
    val frames = Multimodal.sampleFrames(Multimodal.assets(spark, sf)).collect()
    assert(frames.nonEmpty)
    val videoIds = Multimodal.assets(spark, sf).filter(_.kind == "video")
      .collect().map(_.asset_id).toSet
    frames.foreach(f => assert(videoIds.contains(f.asset_id)))
    frames.groupBy(_.asset_id).foreach { case (_, fs) =>
      val idx = fs.map(_.frame_idx).sorted
      assert(idx.sameElements(idx.indices), "frame indices must be dense from 0")
      assert(fs.length <= 8)
    }
  }

  test("m4: duplicated payloads collapse to the same chunk digests") {
    val rows = Multimodal.m4ChunkDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_unique") <= r.getAs[Long]("n_chunks"))
      val f = r.getAs[Double]("unique_frac")
      assert(f > 0.0 && f <= 1.0)
    }
    // planted CAS property: 10 assets sharing one payload contribute
    // 10× the chunks but only 1× the unique digests
    import spark.implicits._
    val dir = tempDir("m4dup").toString
    val text = "x" * 100 // 4 chunks of 32 (last short)
    (0 until 10).map(i => (i.toLong * 3, text, "en", "srcA", 100L)) // ids ≡ 0 mod 3 → image
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Multimodal.m4ChunkDedup(spark, dir).collect()
    assert(planted.length == 1)
    assert(planted(0).getAs[Long]("n_chunks") == 40L)
    assert(planted(0).getAs[Long]("n_unique") == 2L,
      "3 identical full chunks + 1 identical tail chunk → 2 unique digests")
  }

  test("m5: chi-square identity on planted extremes (uniform=0 floor, constant=max)") {
    // all-distinct payload "abc..." (each byte once): c_b ∈ {0,1},
    // chi2pb = (65536·L − 256·L²)/L = 65536 − 256·L; constant payload
    // "aaaa": one bin holds all L, chi2pb = (65536·L² − 256·L²)/L =
    // 65280·L — the analytic extremes of the per-byte statistic,
    // checked end to end through the real mapPartitions pass
    import spark.implicits._
    val dir = tempDir("m5uni").toString
    Seq(
      (0L, "abcdefghij", "en", "srcA", 10L),   // 10 distinct bytes, kind image
      (3L, "aaaaaaaaaa", "en", "srcA", 10L))   // 10 equal bytes, kind image
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.m5Uniformity(spark, dir).collect()
    assert(r.length == 1)
    val distinctScore = 65536L - 256L * 10  // Σc²=L → (65536L−256L²)/L
    val constantScore = 65280L * 10         // Σc²=L² → 65280·L
    assert(r(0).getAs[Long]("chi2pb_min") == distinctScore)
    assert(r(0).getAs[Long]("chi2pb_max") == constantScore)
    assert(r(0).getAs[Long]("chi2pb_total") == distinctScore + constantScore)
  }

  test("m6: identical video payloads pair at jaccard 1.0; bounds hold on the corpus") {
    // bounds on the real corpus
    Multimodal.m6VideoNeardup(spark, sf).collect().foreach { r =>
      val (sh, na, nb) = (r.getAs[Long]("n_shared"), r.getAs[Long]("na"), r.getAs[Long]("nb"))
      assert(sh >= 1 && sh <= math.min(na, nb))
      val j = r.getAs[Double]("jacc")
      assert(j > 0.0 && j <= 1.0)
    }
    // planted re-encode: two video-kind docs (ids ≡ 2 mod 3) share the
    // byte stream → identical frame sets → exactly one pair at 1.0
    import spark.implicits._
    val dir = tempDir("m6dup").toString
    val clip = "the quick brown fox jumps over the lazy dog again and again and again" * 3
    Seq((2L, clip, "en", "srcA", clip.length.toLong),
        (5L, clip, "en", "srcA", clip.length.toLong),
        (8L, clip.reverse, "en", "srcA", clip.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Multimodal.m6VideoNeardup(spark, dir).collect()
    assert(planted.length == 1, "only the duplicated clip pair may surface")
    assert(planted(0).getAs[Long]("va") == 2L && planted(0).getAs[Long]("vb") == 5L)
    assert(planted(0).getAs[Double]("jacc") == 1.0)
  }

  test("BMP codec: golden header layout and exact parse round-trip") {
    val body = "pixels".getBytes("UTF-8")
    val bmp = Multimodal.encodeBmp(640, 480, body)
    // golden bytes at the public format's fixed offsets
    assert(bmp(0) == 'B'.toByte && bmp(1) == 'M'.toByte)
    assert(bmp.length == 54 + body.length)
    // file size LE u32 at 2, pixel offset at 10, biSize at 14
    assert((bmp(2) & 0xff) == (54 + body.length) && bmp(3) == 0)
    assert((bmp(10) & 0xff) == 54 && (bmp(14) & 0xff) == 40)
    // width 640 = 0x280 LE at 18; height 480 = 0x1e0 LE at 22
    assert((bmp(18) & 0xff) == 0x80 && (bmp(19) & 0xff) == 0x02)
    assert((bmp(22) & 0xff) == 0xe0 && (bmp(23) & 0xff) == 0x01)
    assert(bmp.slice(54, bmp.length).sameElements(body))
    assert(Multimodal.decodeContainer(bmp) == ((640, 480, 54)))
  }

  test("WAV codec: golden header layout and exact parse round-trip") {
    val body = "samples".getBytes("UTF-8")
    val wav = Multimodal.encodeWav(2, 44100, body)
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    assert(new String(wav.slice(12, 16), "US-ASCII") == "fmt ")
    assert(new String(wav.slice(36, 40), "US-ASCII") == "data")
    assert(wav.length == 44 + body.length)
    // PCM=1 at 20, channels at 22, rate 44100 = 0xAC44 LE at 24
    assert((wav(20) & 0xff) == 1 && (wav(22) & 0xff) == 2)
    assert((wav(24) & 0xff) == 0x44 && (wav(25) & 0xff) == 0xac)
    assert(wav.slice(44, wav.length).sameElements(body))
    // decode reports channels + kHz (44100/1000 = 44) + body offset
    assert(Multimodal.decodeContainer(wav) == ((2, 44, 44)))
  }

  test("containerAssets: every image parses as BMP, every audio as WAV, bodies preserved") {
    val feats = Multimodal.extractFeatures(Multimodal.containerAssets(spark, sf))
      .collect().map(f => f.asset_id -> f).toMap
    val raw = Multimodal.extractFeatures(Multimodal.assets(spark, sf))
      .collect().map(f => f.asset_id -> f).toMap
    assert(feats.keySet == raw.keySet)
    feats.foreach { case (id, f) =>
      // body stats identical to the raw corpus: header excluded exactly
      assert(f.n_bytes == raw(id).n_bytes, s"body length drifted for $id")
      assert(f.byte_sum == raw(id).byte_sum, s"body checksum drifted for $id")
      f.kind match {
        case "image" => assert((f.width, f.height) == Multimodal.bmpDims(id))
        case "audio" =>
          val (c, r) = Multimodal.wavParams(id)
          assert((f.width, f.height) == ((c, r / 1000)))
        case _ => assert((f.width, f.height) == ((raw(id).width, raw(id).height)))
      }
    }
  }
}
