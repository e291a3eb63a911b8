package graft.operators

import graft.SparkTestBase

class MultimodalSpec extends SparkTestBase {

  test("media table carries real binary payloads with typed metadata") {
    val rows = Multimodal.mediaTable(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.payload.length > 0))
    assert(rows.map(_.media_type).toSet == Set("image", "audio", "video"))
  }

  test("decode stub is deterministic and consistent with the meta pass") {
    val a = Multimodal.mmDecodeFeatures(spark, sf0001).collect()
    val b = Multimodal.mmDecodeFeatures(spark, sf0001).collect()
    assert(a.toSeq == b.toSeq)
    val meta = Multimodal.mmMeta(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    a.foreach(r => assert(r.getInt(2) == meta(r.getLong(0)),
      "byte_len from decode path != byte_len from metadata path"))
  }

  test("frame sampling emits every 5th frame with stable signatures") {
    val frames = Multimodal.mmFrameSample(spark, sf0001).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.getLong(0)).values.foreach { fs =>
      val idxs = fs.map(_.getLong(1)).sorted.toSeq
      assert(idxs == idxs.indices.map(_ * 5L))
    }
  }

  test("blockhash is perceptual: identical bytes → distance 0, one flipped byte → small distance") {
    val base = ("the quick brown fox jumps over the lazy dog " * 20).getBytes("UTF-8")
    val same = Multimodal.blockHash64(base.clone())
    assert(Multimodal.blockHash64(base) == same)
    // flip one byte: at most a couple of block means cross the global
    // mean, so the signatures stay within a few bits of each other —
    // the property that makes Hamming bucketing meaningful
    val tweaked = base.clone(); tweaked(100) = 'X'.toByte
    val d = java.lang.Long.bitCount(
      Multimodal.blockHash64(base) ^ Multimodal.blockHash64(tweaked))
    assert(d <= 6, s"one-byte change moved $d bits")
    // and an unrelated payload is far away
    val other = ("entirely different content with other words repeated " * 18)
      .getBytes("UTF-8")
    val far = java.lang.Long.bitCount(
      Multimodal.blockHash64(base) ^ Multimodal.blockHash64(other))
    assert(far > 6, s"unrelated payloads only $far bits apart")
  }

  test("phash near-dup finds every planted re-encode pair and nothing else") {
    val rows = Multimodal.mmPhashDup(spark, sf0001).collect()
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getInt(2) <= 6)
    }
    // re-derive signatures (originals + planted variants) directly
    val imgs = Multimodal.mediaTable(spark, sf0001)
      .filter(_.media_type == "image").collect()
    val sigs = imgs.flatMap { r =>
      val orig = r.doc_id -> Multimodal.blockHash64(r.payload)
      if (r.payload.length < 8) Seq(orig)
      else {
        val v = r.payload.clone()
        val mid = v.length / 2
        v(mid) = 'X'.toByte; v(mid + 1) = 'X'.toByte; v(mid + 2) = 'X'.toByte
        Seq(orig, (r.doc_id + Multimodal.PhashVariantOffset) ->
          Multimodal.blockHash64(v))
      }
    }.toMap
    rows.foreach { r =>
      val want = java.lang.Long.bitCount(
        sigs(r.getLong(0)) ^ sigs(r.getLong(1)))
      assert(r.getInt(2) == want)
    }
    // recall: every planted (doc, variant) pair must be recovered —
    // they differ in one payload block, so they share ≥1 chunk and
    // sit within the threshold
    val planted = imgs.filter(_.payload.length >= 8)
      .map(r => (r.doc_id, r.doc_id + Multimodal.PhashVariantOffset)).toSet
    assert(planted.subsetOf(keys.toSet),
      s"missing ${planted.size - keys.toSet.count(planted)} planted pairs")
    assert(rows.nonEmpty)
  }

  test("audio windows tile each payload exactly and energies match a re-derivation") {
    val byId = Multimodal.mediaTable(spark, sf0001)
      .filter(_.media_type == "audio").collect()
      .map(r => r.doc_id -> r.payload).toMap
    val rows = Multimodal.mmAudioEnergy(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (id, ws) =>
      val bytes = byId(id)
      val sorted = ws.sortBy(_.getLong(1))
      // windows tile the payload: indices 0..n-1, sample counts sum to len
      assert(sorted.map(_.getLong(1)).toSeq ==
        sorted.indices.map(_.toLong))
      assert(sorted.map(_.getInt(2)).sum == bytes.length)
      sorted.foreach { w =>
        val start = w.getLong(1).toInt * Multimodal.AudioWindowBytes
        val end = math.min(start + Multimodal.AudioWindowBytes, bytes.length)
        val want = (start until end).map { i =>
          val v = (bytes(i) & 0xFF).toLong - 128L; v * v
        }.sum
        assert(w.getLong(3) == want, s"doc $id win ${w.getLong(1)}")
      }
    }
  }

  test("silence trim matches a re-derivation from the energy windows and discriminates") {
    val wins = Multimodal.mmAudioEnergy(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getLong(3)))
      .groupBy(_._1)
    val expected = wins.map { case (id, ws) =>
      val totE = ws.map(_._4).sum
      val totN = ws.map(_._3).sum
      val silent = ws.map(w => w._2 -> (2 * w._4 * totN < totE * w._3)).toMap
      val keptIdx = ws.map(_._2).filterNot(silent).sorted
      id -> ((ws.length.toLong, silent.count(_._2).toLong, totN,
        ws.filterNot(w => silent(w._2)).map(_._3).sum,
        keptIdx.mkString(",")))
    }
    val got = Multimodal.mmSilenceTrim(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5)))).toMap
    assert(got == expected)
    // the threshold genuinely splits: some windows trimmed, some kept
    assert(got.values.exists(_._2 > 0) && got.values.forall(v => v._4 <= v._3))
    assert(got.values.exists(v => v._2 < v._1))
  }

  test("mm_pair_mine: modality split, rank contract, and quality floor") {
    val rows = Multimodal.mmPairMine(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 3 == 0, "probe side is the image modality")
      assert(r.getLong(2) % 3 != 0, "stored side is the text modality")
      assert(r.getDouble(3) >= Multimodal.XModalMinCos.toDouble,
        "every mined pair clears the quality floor")
    }
    rows.groupBy(_.getLong(0)).foreach { case (img, rs) =>
      assert(rs.length <= Multimodal.XModalTopK)
      // ranks are 1..k BEFORE the floor, so kept ranks are a prefix-free
      // subset of 1..k that is strictly increasing in rank order and
      // non-increasing in cosine
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).distinct.length == sorted.length,
        s"image $img has duplicate ranks")
      sorted.map(_.getDouble(3)).sliding(2).filter(_.length == 2)
        .foreach(w => assert(w(0) >= w(1),
          s"image $img cosine increases down the ranking"))
    }
  }

  test("mm_pair_mine: served candidates agree with brute force where both rank") {
    // the IVF arm is approximate; where it DOES return a pair, the
    // cosine must equal the brute-force cosine for that pair exactly
    // (the serve path re-scores with the true vectors)
    import org.apache.spark.sql.functions._
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val mined = Multimodal.mmPairMine(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val brute = Similarity.cosineTopK(
      e.filter(col("vec_id") % 3 =!= 0),
      e.filter(col("vec_id") % 3 === 0), k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val overlap = mined.keySet.intersect(brute.keySet)
    assert(overlap.nonEmpty, "served and brute top-3 share pairs")
    overlap.foreach { k =>
      assert(mined(k) == brute(k), s"cosine mismatch on $k")
    }
  }

  test("mm_pair_mine: pair recall vs brute force holds its floor") {
    // pair recall of the served miner against exact cosine, same
    // modality split and quality floor on both arms — deterministic
    // (trained index + fixed corpus), so the floor is a regression pin,
    // not a statistical bound. The ABSOLUTE level is low by corpus
    // design (iid random vectors, √n cells, NumProbes=2 — the
    // documented IVF recall law; SCALING.md's retired-probes table
    // keeps the measured ladder and the probes→recall knob).
    import org.apache.spark.sql.functions._
    val floor = Multimodal.XModalMinCos.toDouble
    def pairs(dir: String) = {
      val e = graft.sources.Tables.embeddings(spark, dir)
      val mined = Multimodal.mmPairMine(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val brute = Similarity.cosineTopK(
          e.filter(col("vec_id") % 3 =!= 0),
          e.filter(col("vec_id") % 3 === 0), k = Multimodal.XModalTopK,
          excludeSelfIds = false)
        .filter(col("cosine") >= lit(floor))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (mined, brute)
    }
    for ((dir, recallFloor) <- Seq(sf0001 -> 0.30, sf001 -> 0.30)) {
      val (mined, brute) = pairs(dir)
      assert(brute.nonEmpty)
      val recall = mined.intersect(brute).size.toDouble / brute.size
      assert(recall >= recallFloor,
        f"pair recall $recall%.3f below floor $recallFloor at $dir")
    }
  }
}
