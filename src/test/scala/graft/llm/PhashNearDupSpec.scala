package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Perceptual-hash image near-dup: real PNG payloads through the real
  * codec (javax.imageio), pHash bits recomputed by hand against the
  * builtin-expression pipeline, and the planted-duplicate structure of
  * the q119 fixture — near-identical images pair, distinct ones don't.
  */
class PhashNearDupSpec extends SparkSpec {
  import spark.implicits._

  // the inputs are written fresh on every run (never a cached fixture),
  // so the codec and the decoder run on every run too
  private lazy val tmp =
    java.nio.file.Files.createTempDirectory("graft-phash").toString
  private def decodeFresh(write: String => Unit, name: String) = {
    write(s"$tmp/$name")
    Multimodal.decodeFeatures(spark.read.parquet(s"$tmp/$name"), new Multimodal.RealDecoder(8))
      .select(col("id"), col("feature")).cache()
  }
  private lazy val decoded = decodeFresh(Multimodal.writeImages(spark, 60, 42L, _), "img")

  private def refSig(feature: scala.collection.Seq[Float]): Long = {
    val q = feature.map(x => math.round(x.toDouble * 1000000))
    val s = q.sum
    (0 until 60).foldLeft(0L)((acc, i) => if (q(i) * 64 > s) acc | (1L << i) else acc)
  }

  test("fixture decodes through the real codec; sig60 equals the by-hand pHash") {
    val rows = decoded.collect()
    assert(rows.length === 60)
    rows.foreach(r => assert(r.getAs[Seq[Float]](1).length === 64, s"row ${r.getLong(0)}"))
    val want = rows.map(r => r.getLong(0) -> refSig(r.getAs[Seq[Float]](1))).toMap
    val got = Phash.sig60(decoded, "id", "feature")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("byte-exact copies pair at Hamming 0, perturbed twins within 3, distinct bases never pair") {
    val pairs = Phash.pairs(decoded, "id", "feature", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // every decade: 9 is a byte-exact PNG copy of 0 → identical raster
    (0L until 60L by 10).foreach { b =>
      assert(pairs.get((b, b + 9)).contains(0), s"exact copy pair ($b, ${b + 9})")
    }
    // 8 is a one-pixel brightening of 0 — a genuine near-twin
    (0L until 60L by 10).foreach { b =>
      assert(pairs.contains((b, b + 8)), s"perturbed pair ($b, ${b + 8})")
      assert(pairs((b, b + 8)) <= 3)
    }
    // no pair crosses decades: distinct seeded noise images never collide
    pairs.keys.foreach { case (a, b) => assert(a / 10 === b / 10, s"($a, $b)") }
  }

  test("blocked pair join equals brute force on the signature set") {
    val sigs = Phash.sig60(decoded, "id", "feature")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (ia, ib, d)).toSet
    val got = Phash.pairs(decoded, "id", "feature", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute)
  }

  private lazy val audioDecoded = decodeFresh(Multimodal.writeAudio(spark, 60, 42L, _), "wav")

  test("audio: WAV fixture decodes through javax.sound; planted structure pairs exactly") {
    val rows = audioDecoded.collect()
    assert(rows.length === 60)
    rows.foreach { r =>
      val f = r.getAs[scala.collection.Seq[Float]](1)
      assert(f.length === 64 && f.exists(_ > 0f), s"row ${r.getLong(0)}")
    }
    val pairs = Phash.pairs(audioDecoded, "id", "feature", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    (0L until 60L by 10).foreach { b =>
      assert(pairs.get((b, b + 9)).contains(0), s"exact copy pair ($b, ${b + 9})")
      assert(pairs.contains((b, b + 8)) && pairs((b, b + 8)) <= 3,
        s"perturbed pair ($b, ${b + 8})")
    }
    pairs.keys.foreach { case (a, b) => assert(a / 10 === b / 10, s"($a, $b)") }
  }

  test("radius escalation: Hamming-5 plants found at maxDist=6, candidates stay blocked") {
    // non-divisible layout: 60 bits over 7 near-equal blocks (9×4, 8×3)
    val rng = new scala.util.Random(7)
    val mask60 = (1L << 60) - 1
    val bases = (0 until 120).map(i => (i.toLong, rng.nextLong() & mask60))
    def flip(sig: Long, k: Int, seed: Int): Long = {
      val r = new scala.util.Random(seed)
      r.shuffle((0 until 60).toList).take(k).foldLeft(sig)((s, b) => s ^ (1L << b))
    }
    val twins5 = bases.take(10).map { case (id, s) => (id + 1000L, flip(s, 5, id.toInt)) }
    val twins7 = bases.slice(10, 20).map { case (id, s) => (id + 2000L, flip(s, 7, id.toInt)) }
    val all = bases ++ twins5 ++ twins7
    val got = NearDup.signaturePairs(all.toDF("id", "sig"), "id", "sig",
        maxDist = 6, sigBits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // exactness vs brute force at radius 6 over ALL pairs
    val brute = (for {
      i <- all.indices; j <- (i + 1) until all.length
      h = java.lang.Long.bitCount(all(i)._2 ^ all(j)._2) if h <= 6
      a = math.min(all(i)._1, all(j)._1); b = math.max(all(i)._1, all(j)._1)
    } yield (a, b) -> h).toMap
    assert(got === brute)
    // every radius-5 plant is found with its exact distance...
    bases.take(10).foreach { case (id, _) =>
      assert(got.get((id, id + 1000L)).contains(5), s"plant $id") }
    // ...and the radius-7 plants sit OUTSIDE maxDist=6
    bases.slice(10, 20).foreach { case (id, _) =>
      assert(!got.contains((id, id + 2000L)), s"plant $id") }
    // candidate bound: the blocked equi-join examines exactly the
    // per-(block, value) collision pairs — replicate the 9/9/9/9/8/8/8
    // split and pin that the candidate set stays far under all-pairs
    val sizes = Seq(9, 9, 9, 9, 8, 8, 8)
    val offsets = sizes.scanLeft(0)(_ + _)
    val cands = (for {
      b <- sizes.indices
      (_, grp) <- all.groupBy { case (_, s) =>
        (s >>> offsets(b)) & ((1L << sizes(b)) - 1) }
      i <- grp.indices; j <- (i + 1) until grp.length
      x = math.min(grp(i)._1, grp(j)._1); y = math.max(grp(i)._1, grp(j)._1)
    } yield (x, y)).toSet
    val allPairs = all.length.toLong * (all.length - 1) / 2
    assert(brute.keySet.subsetOf(cands), "pigeonhole completeness")
    assert(cands.size < allPairs / 4,
      s"candidate set ${cands.size} not blocked vs $allPairs all-pairs")
  }

  test("raster pairs at maxDist 6 are a superset of maxDist 3") {
    val p3 = Phash.pairs(decoded, "id", "feature", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val p6 = Phash.pairs(decoded, "id", "feature", maxDist = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p3.subsetOf(p6))
  }
}
