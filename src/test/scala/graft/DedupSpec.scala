package graft

import graft.dedup.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Scale-safety tests for the dedup candidate generation: the hot-key caps
  * must actually bound join fan-out. */
class DedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-dedup-spec")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .master("local[4]")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def boilerplate = "all rights reserved to the original publisher"

  /** 1200 docs sharing ONLY a boilerplate phrase (the planted stop-shingle,
    * df > MaxBucket), plus one genuine near-dup pair (ids 9001/9002) with
    * rare shingles. */
  private def plantedCorpus = {
    import spark.implicits._
    val hot = (1 to 1200).map { i =>
      (i.toLong, s"$boilerplate unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e")
    }
    // 15 words differing only in the last -> 13 shingles, 12 shared,
    // J = 12/14 ≈ 0.857 ≥ 0.8
    val near = Seq(
      (9001L, "zebra quagga okapi tapir bongo eland kudu nyala oryx addax saiga ibex markhor urial addra"),
      (9002L, "zebra quagga okapi tapir bongo eland kudu nyala oryx addax saiga ibex markhor urial gerenuk"))
    (hot ++ near).toDF("doc_id", "text")
  }

  test("dropHotKeys removes the planted 1000-doc stop-shingle before the self-join") {
    val sh = Dedup.shingles(plantedCorpus, "doc_id", "text", k = 3)
    val hotShingle = boilerplate.split(" ").take(3).mkString(" ")
    assert(sh.where(col("sh") === hotShingle).count() === 1200)
    val capped = Dedup.dropHotKeys(sh, Dedup.MaxBucket, "sh")
    assert(capped.where(col("sh") === hotShingle).count() === 0)
    // every shingle of the boilerplate run is gone; rare shingles survive
    val survivorMax = capped.groupBy("sh").count().agg(max("count")).head.getLong(0)
    assert(survivorMax <= Dedup.MaxBucket)
    assert(capped.where(col("sh") === "zebra quagga okapi").count() === 2)
  }

  test("ngramJaccardPairs under the cap: bounded candidates, near-dup pair still found") {
    // with the cap the intersection join sees only rare shingles -> the only
    // pair clearing the threshold is the planted near-dup (J = 12/14)
    val pairs = Dedup.ngramJaccardPairs(plantedCorpus, "doc_id", "text",
      k = 3, threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9001L, 9002L)))
  }

  test("minhashCandidates drops degenerate buckets (exact-copy cluster beyond the cap)") {
    import spark.implicits._
    // 50 exact copies: every band bucket has 50 members
    val copies = (1 to 50).map(i => (i.toLong, "identical text repeated " * 10)).toDF("doc_id", "text")
    val bands = Dedup.minhashBands(copies, "doc_id", "text", k = 3)
    assert(Dedup.minhashCandidates(bands, maxBucket = 40).count() === 0)
    assert(Dedup.minhashCandidates(bands, maxBucket = 100).count() === 50L * 49 / 2)
  }

  test("minhashDedupPairs respects the cap end-to-end and stays exact below it") {
    val pairs = Dedup.minhashDedupPairs(plantedCorpus.where(col("doc_id") >= 9000),
      "doc_id", "text", k = 3, threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((9001L, 9002L)))
  }

  test("simhashPairs equals brute-force Hamming<=3 (banding neither misses nor invents pairs)") {
    import spark.implicits._
    val rnd = new java.util.Random(7)
    val base = (1 to 60).map(i =>
      (i.toLong, Seq.fill(40)(s"t${rnd.nextInt(400)}").mkString(" ")))
    // exact copies (Hamming 0) and one-word perturbations (small Hamming)
    val copies = base.take(10).map { case (i, t) => (i + 1000L, t) }
    val pert = base.map { case (i, t) =>
      val ws = t.split(" "); ws(rnd.nextInt(ws.length)) = "changed"
      (i + 2000L, ws.mkString(" "))
    }
    val all = base ++ copies ++ pert
    val corpus = all.toDF("doc_id", "text")
    val sig = all.map { case (i, t) => i -> Dedup.simhash64(t) }.toMap
    val ids = sig.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(Dedup.simhashes(corpus, "doc_id", "text"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.size >= 10, s"corpus too easy: ${want.size}") // at least the copies
    assert(got === want)
  }

  test("mulModP equals BigInteger modular arithmetic across the full operand range") {
    val p = java.math.BigInteger.valueOf((1L << 61) - 1)
    val rnd = new java.util.Random(99)
    (1 to 20000).foreach { _ =>
      val a = (math.abs(rnd.nextLong()) % ((1L << 61) - 1)) + 1 // [1, p]
      val x = rnd.nextInt().toLong & 0xffffffffL // [0, 2^32)
      val want = java.math.BigInteger.valueOf(a)
        .multiply(java.math.BigInteger.valueOf(x)).mod(p).longValueExact()
      assert(Dedup.mulModP(a, x) == want, s"a=$a x=$x")
    }
  }

  test("verifyCandidatesExact is idempotent: duplicate/reversed/self candidates normalize away") {
    import spark.implicits._
    // 15 words differing only in the last -> J = 12/14 ≈ 0.857 ≥ 0.8
    val docs = Seq(
      (1L, "zebra quagga okapi tapir bongo eland kudu nyala oryx addax saiga ibex markhor urial addra"),
      (2L, "zebra quagga okapi tapir bongo eland kudu nyala oryx addax saiga ibex markhor urial gerenuk"),
      (3L, "entirely unrelated words with no shared shingles at all here"))
      .toDF("doc_id", "text")
    // the streaming candidate generator emits the same pair once per band;
    // hand it the worst case: 5 duplicates, both orientations, a self-pair,
    // and a zero-overlap pair
    val cand = (Seq.fill(5)((1L, 2L)) ++ Seq((2L, 1L), (1L, 1L), (1L, 3L)))
      .toDF("id_a", "id_b")
    val out = Dedup.verifyCandidatesExact(docs, "doc_id", "text", cand, k = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L)), s"got $out")
    Dedup.clearCaches()
  }

  test("cache lifecycle: back-to-back dedup invocations + clearCaches release every cache") {
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val before = Dedup.liveCacheSnapshot.toSet
    val docs = (0L until 40L)
      .map(i => (i, (0 to 20).map(j => s"w${i}x$j").mkString(" "))).toDF("doc_id", "text")
    // two back-to-back invocations of the cache-heaviest operator: every
    // persist it creates (index caches AND the candidate set) must be
    // registered, so one clearCaches() releases all of them. Other suites
    // share the JVM-global registry under parallel execution, so assert only
    // on THIS test's delta.
    Dedup.minhashDedupPairs(docs, "doc_id", "text").count()
    Dedup.minhashDedupPairs(docs, "doc_id", "text").count()
    val mine = Dedup.liveCacheSnapshot.filterNot(before)
    // 4 caches per invocation: band index, shingle index, candidate set, shingle sets
    assert(mine.size >= 8, s"expected >=8 newly registered caches, got ${mine.size}")
    assert(mine.forall(_.storageLevel != StorageLevel.NONE), "registered caches must be persisted")
    Dedup.clearCaches()
    assert(mine.forall(_.storageLevel == StorageLevel.NONE),
      "clearCaches() must unpersist every registered cache")
  }

  test("connectedComponents fails loudly when the diameter exceeds maxRounds") {
    import spark.implicits._
    // a 12-node chain has diameter 11: min-label propagation needs 11 rounds
    // plus one confirming round, so maxRounds = 3 cannot converge
    val chain = (1L to 11L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxRounds = 3).count()
    }
    assert(e.getMessage.contains("did not converge"))
    // with the default bound the same chain converges to one component
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels.values.toSet === Set(1L), s"got $labels")
    assert(labels.keySet === (1L to 12L).toSet)
    Dedup.clearCaches()
  }

  test("minhashBands: k=3 (native expr) and k!=3 (typed flatMap) agree on null text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, null.asInstanceOf[String]),
      (3L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val ids3 = Dedup.minhashBands(docs, "doc_id", "text", k = 3)
      .select("id").distinct().as[Long].collect().toSet
    val ids4 = Dedup.minhashBands(docs, "doc_id", "text", k = 4)
      .select("id").distinct().as[Long].collect().toSet
    assert(ids3 === Set(1L, 3L))
    assert(ids4 === Set(1L, 3L)) // pre-fix this path NPE'd the task
  }

  test("verifyCandidatesExact: the oversized-doc fallback path is result-identical") {
    import spark.implicits._
    val docs = Seq(
      (1L, "zebra quagga okapi tapir bongo eland kudu nyala oryx addax saiga ibex markhor urial addra"),
      (2L, "zebra quagga okapi tapir bongo eland kudu nyala oryx addax saiga ibex markhor urial gerenuk"),
      (3L, "short doc with its own words"),
      (4L, "short doc with its own words too"))
      .toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (3L, 4L), (1L, 3L)).toDF("id_a", "id_b")
    val expected = Dedup.verifyCandidatesExact(docs, "doc_id", "text", cand, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Dedup.clearCaches()
    // maxSetSize = 5: docs 1/2 (13 shingles) count as oversized and verify
    // via the narrow-row path; docs 3/4 stay on the collect_set path
    val viaFallback = Dedup.verifyCandidatesExact(docs, "doc_id", "text", cand,
        k = 3, threshold = 0.5, maxSetSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFallback === expected, s"fallback $viaFallback vs direct $expected")
    assert(expected.contains((1L, 2L)) && expected.contains((3L, 4L)))
    Dedup.clearCaches()
  }

  test("keepBestPerKey: argmax score per key, min-id tie-break, pure aggregation") {
    import spark.implicits._
    val rows = Seq(
      ("u1", 1L, 10L), ("u1", 2L, 30L), ("u1", 3L, 30L), // tie at 30 -> id 2
      ("u2", 4L, 5L),                                     // singleton
      ("u3", 6L, 7L), ("u3", 5L, 7L)                      // tie -> id 5
    ).toDF("curl", "doc_id", "score")
    val got = Dedup.keepBestPerKey(rows, "curl", "doc_id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("u1", 2L, 3L), ("u2", 4L, 1L), ("u3", 5L, 2L)))
    // scale shape: a single hash aggregate (partial + final), no window/sort
    val plan = Dedup.keepBestPerKey(rows, "curl", "doc_id", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "keepBestPerKey must not use a window")
  }

  test("keepBestPerKey: null scores rank WORST (SQL nulls-last-under-DESC semantics)") {
    import spark.implicits._
    // Spark's raw struct-min would sort a null field FIRST and crown the
    // null-score row — the null-content fetch — while the DuckDB window
    // oracle (ORDER BY score DESC, nulls last) keeps the scored row
    val rows = Seq[(String, Long, Option[Long])](
      ("u1", 1L, Some(10L)), ("u1", 2L, None),  // scored row wins over null
      ("u2", 3L, None), ("u2", 4L, None)        // all-null group -> min id
    ).toDF("curl", "doc_id", "score")
    val got = Dedup.keepBestPerKey(rows, "curl", "doc_id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("u1", 1L, 2L), ("u2", 3L, 2L)))
  }

  test("keepBestPerKey: fractional scores rank in double, extreme longs don't overflow") {
    import spark.implicits._
    // a long-cast ranking truncates 5.9 and 5.1 both to 5 (tie → min id 1
    // wrongly kept) and negating Long.MinValue overflows back to
    // Long.MinValue (that row wrongly ranked BEST); the double ranking
    // keeps the true argmax in both regimes
    val rows = Seq(
      ("u1", 1L, Some(5.1)), ("u1", 2L, Some(5.9)),   // higher-id true argmax
      ("u2", 3L, Some(0.75)), ("u2", 4L, Some(0.25)), // all scores in (0,1)
      ("u3", 5L, Some(Long.MinValue.toDouble)), ("u3", 6L, Some(0.0))
    ).toDF("curl", "doc_id", "score")
    val got = Dedup.keepBestPerKey(rows, "curl", "doc_id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("u1", 2L, 2L), ("u2", 3L, 2L), ("u3", 6L, 2L)))
  }

  test("dropCommonChunks: removes corpus-common windows, keeps order, empty rows survive") {
    import spark.implicits._
    // "a b c d e" is a full 5-word window shared by docs 1,2,3 (df=3 >= 3):
    // dropped everywhere. Doc 1 is ONLY that window -> stays as an empty
    // row. Docs 2/3 keep their distinct tails in original order. The pair
    // window shared by docs 4,5 (df=2) stays.
    val rows = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e own tail two three four"),
      (3L, "pre one two three four a b c d e"), // windows: [pre one two three four][a b c d e]
      (4L, "shared pair block here now"),
      (5L, "shared pair block here now unique1 unique2 unique3 unique4 unique5")
    ).toDF("doc_id", "text")
    val got = Dedup.dropCommonChunks(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got(1L) == ("", 0L))
    assert(got(2L) == ("own tail two three four", 1L))
    assert(got(3L) == ("pre one two three four", 1L))
    assert(got(4L) == ("shared pair block here now", 1L))
    assert(got(5L) == ("shared pair block here now unique1 unique2 unique3 unique4 unique5", 2L))
  }

  test("connectedComponents releases each round's checkpoint blocks (bounded storage)") {
    import spark.implicits._
    // an 11-round chain: without the per-round release, every round's label
    // table stays in block storage until the driver GCs — here that would be
    // ~11 persisted RDDs; with the release at most the final labels + edges
    // survive the call
    val n = 12
    val pairs = (0L until n - 1L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val cc = Dedup.connectedComponents(pairs, maxRounds = 20)
    assert(cc.collect().forall(_.getLong(1) == 0L)) // one component, rep 0
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 2,
      s"persistent RDDs grew $before -> $after: rounds are leaking checkpoint blocks")
  }

  test("duplicateSpans: island merge, seam split, within-doc repeats count") {
    import spark.implicits._
    def words(a: Int, b: Int): String = (a to b).map(i => "w" + i).mkString(" ")
    val base = words(1, 30)                       // 30 unique tokens
    val rows = Seq(
      (1L, base),                                 // duplicated wholly by doc 2
      (2L, base + " " + base),                    // chimera: self-concat
      (3L, words(100, 140))                       // unique -> no spans
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(rows, "doc_id", "text", windowTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toList
    Dedup.clearCaches() // duplicateSpans registers its narrow positions cache
    // doc 1 (n=30): every window pos 0..20 duplicated -> ONE span [0,30)
    // doc 2 (n=60): pos 0..20 and 30..50 duplicated; seam windows 21..29
    //   (crossing "w30 w1") occur once -> TWO spans [0,30) and [30,60)
    assert(got == List(
      (1L, 0L, 30L, 21L),
      (2L, 0L, 30L, 21L), (2L, 30L, 60L, 21L)))
  }

  test("dedupLinesAcrossCorpus: corpus-wide first-occurrence, empty lines kept, husks survive") {
    import spark.implicits._
    val rows = Seq(
      (1L, "boiler\nalpha\n\nboiler"),   // first doc: keeps boiler once (pos 0), empty kept
      (2L, "boiler\nbeta"),              // cross-doc dup: boiler lost to doc 1
      (3L, "boiler"),                    // loses its only line -> empty husk
      (4L, "\n\n"),                      // only empties -> all kept (3 lines)
      (5L, "beta\ngamma")                // beta lost to doc 2
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLinesAcrossCorpus(rows, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toList
    assert(got == List(
      (1L, "boiler\nalpha\n", 4L, 3L),
      (2L, "beta", 2L, 1L),
      (3L, "", 1L, 0L),
      (4L, "\n\n", 3L, 3L),
      (5L, "gamma", 2L, 1L)))
  }
}
