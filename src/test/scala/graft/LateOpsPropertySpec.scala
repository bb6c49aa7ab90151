package graft

import graft.functions.{Pii, Urls}
import graft.pipeline.Packing
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Randomized references for the late-round operators: each property runs a
  * FEW seeded corpora through one Spark job and compares against a plain
  * Scala brute-force model (a per-generated-case Spark job would be two
  * orders slower than the rest of the suite for no extra coverage). */
class LateOpsPropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-lateops-prop")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .master("local[4]")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Reference greedy fold — deliberately the simplest possible spelling. */
  private def refPack(docs: Seq[(Long, Long)], capacity: Long,
      numStreams: Int): Map[Long, (Long, Long)] =
    docs.groupBy(_._1 % numStreams).flatMap { case (stream, ds) =>
      var filled = 0L
      var bin = 0L
      ds.sortBy(_._1).map { case (id, t) =>
        if (filled + t > capacity && filled > 0) { bin += 1; filled = 0 }
        filled += t
        id -> ((stream, bin))
      }
    }

  test("packSequences matches the reference greedy fold on random corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 150 + rnd.nextInt(150)
      val sizes = (0 until n).map(i => i.toLong -> (1L + rnd.nextInt(30)))
      val cap = 16L + rnd.nextInt(48)
      val df = sizes.map { case (id, w) =>
        (id, List.fill(w.toInt)("t").mkString(" ")) }.toDF("doc_id", "text")
      val got = Packing.packSequences(df, "doc_id", "text", cap, numStreams = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val ref = refPack(sizes, cap, 4)
      assert(got.length == n, s"trial $trial: lost or duplicated docs")
      got.foreach { case (id, stream, bin, t) =>
        assert(ref(id) == ((stream, bin)), s"trial $trial doc $id")
        assert(t == sizes.toMap.apply(id))
      }
      // invariant: any bin holding >1 doc is within capacity
      got.groupBy(r => (r._2, r._3)).foreach { case (key, members) =>
        if (members.length > 1)
          assert(members.map(_._4).sum <= cap, s"trial $trial bin $key over capacity")
      }
    }
  }

  test("pii scrub is idempotent and leaves no residual matches") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val words = Seq("alpha", "beta", "2024", "x9", "dot.", "at@", "plus+", "-")
    def doc(): String = {
      val parts = scala.collection.mutable.ArrayBuffer.empty[String]
      for (_ <- 0 until 12) {
        rnd.nextInt(6) match {
          case 0 => parts += s"u${rnd.nextInt(99)}.n@ex${rnd.nextInt(9)}.co${if (rnd.nextBoolean()) "m" else ""}"
          case 1 => parts += s"${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
          case 2 => parts += s"+${rnd.nextInt(99)} ${rnd.nextInt(900) + 100}-${rnd.nextInt(9000) + 1000}"
          case _ => parts += words(rnd.nextInt(words.length))
        }
      }
      parts.mkString(" ")
    }
    val df = (0 until 300).map(i => (i.toLong, doc())).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"),
        Pii.scrub(col("text")).as("once"))
      .select(col("doc_id"), col("once"),
        Pii.scrub(col("once")).as("twice"),
        Pii.nEmails(col("once")).as("res_email"),
        Pii.nIpv4(col("once")).as("res_ip"),
        Pii.nPhones(col("once")).as("res_phone"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"doc ${r.getLong(0)} not idempotent")
      assert(r.getLong(3) == 0 && r.getLong(4) == 0 && r.getLong(5) == 0,
        s"doc ${r.getLong(0)} residual PII after scrub")
    }
  }

  test("mixByTokenBudget matches the single-pass greedy prefix reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    for (trial <- 1 to 3) {
      val n = 200 + rnd.nextInt(100)
      val docs = (0 until n).map { i =>
        (i.toLong, s"g${rnd.nextInt(3)}", List.fill(1 + rnd.nextInt(25))("w").mkString(" "))
      }
      val budget = 200L + rnd.nextInt(400)
      val got = graft.functions.Sampling.mixByTokenBudget(
          docs.toDF("doc_id", "grp0", "text"), "grp0", "doc_id", "text", budget)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      def ok(id: Long) = ((id % 1000003L) * 427799L) % 1000003L
      val ref = docs.groupBy(_._2).toSeq.flatMap { case (g, ds) =>
        var cum = 0L
        ds.sortBy(d => (ok(d._1), d._1)).flatMap { case (id, _, text) =>
          val t = text.split(" ").length.toLong
          val before = cum
          cum += t
          if (before < budget) Some((g, id)) else None
        }
      }.toSet
      assert(got == ref, s"trial $trial budget $budget: " +
        s"missing=${(ref -- got).take(3)} extra=${(got -- ref).take(3)}")
    }
  }

  test("duplicateSpans matches the brute-force window/island reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val L = 5
    for (trial <- 1 to 3) {
      // tiny alphabet so corpus-wide duplicate windows arise naturally
      val docs = (0 until 40).map { i =>
        (i.toLong, (0 until (L + rnd.nextInt(30))).map(_ => s"w${rnd.nextInt(6)}").mkString(" "))
      }
      val got = graft.dedup.Dedup.duplicateSpans(
          docs.toDF("doc_id", "text"), "doc_id", "text", windowTokens = L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toList
      graft.dedup.Dedup.clearCaches()
      // brute force: count every L-gram globally, mark positions, merge runs
      val grams = docs.flatMap { case (id, t) =>
        val ws = t.split(" ")
        (0 to ws.length - L).map(p => (id, p, ws.slice(p, p + L).mkString(" ")))
      }
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      val ref = grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).toSeq.flatMap { case (id, ps) =>
          val sorted = ps.map(_._2).sorted
          val islands = sorted.foldLeft(List.empty[List[Int]]) {
            case (acc @ (cur :: rest), p) if p == cur.head + 1 => (p :: cur) :: rest
            case (acc, p) => List(p) :: acc
          }
          islands.map(isl => (id, isl.min.toLong, isl.max.toLong + L, isl.size.toLong))
        }.sortBy(t => (t._1, t._2)).toList
      assert(got == ref, s"trial $trial: got=${got.take(3)} ref=${ref.take(3)}")
      assert(ref.nonEmpty, s"trial $trial produced no duplicate spans — weak trial")
    }
  }

  test("hostOf recovers the host from assembled authority forms") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val cases = (0 until 200).map { i =>
      val host = (0 to rnd.nextInt(3)).map(_ => s"l${rnd.nextInt(20)}").mkString(".") + ".com"
      val userinfo = rnd.nextInt(3) match {
        case 0 => ""
        case 1 => s"user${rnd.nextInt(9)}@"
        case 2 => s"u:p@ss@" // multiple '@': last one delimits
      }
      val port = if (rnd.nextBoolean()) s":${1 + rnd.nextInt(65535)}" else ""
      val dot = if (rnd.nextInt(4) == 0) "." else ""
      val path = if (rnd.nextBoolean()) s"/p${rnd.nextInt(9)}?q=1#f" else ""
      (i.toLong, s"https://$userinfo${host.toUpperCase}$dot$port$path", host)
    }
    val got = cases.map(c => (c._1, c._2)).toDF("id", "url")
      .select(col("id"), Urls.hostOf(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (id, url, host) =>
      assert(got(id) == host, s"url $url -> ${got(id)}, want $host")
    }
  }

  test("chunkWindows reconstructs every document exactly on random sizes") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val (w, o) = (10, 4)
    val stride = w - o
    // word counts hugging every boundary: 0, 1, W-1, W, W+1, multiples of
    // the stride around W, plus random sizes
    val sizes = (Seq(0, 1, w - 1, w, w + 1, w + stride, w + stride + 1) ++
      Seq.fill(20)(rnd.nextInt(120))).distinct
    val docs = sizes.zipWithIndex.map { case (n, i) =>
      (i.toLong, (1 to n).map(j => s"w${i}_$j").mkString(" "))
    }
    val out = graft.functions.Chunking
      .chunkWindows(docs.toDF("doc_id", "text"), "doc_id", "text", w, o)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    docs.foreach { case (id, text) =>
      val words = if (text.isEmpty) Array.empty[String] else text.split(" ")
      val chunks = out.getOrElse(id, Array.empty[(Long, Long, Long, String)])
      if (words.isEmpty) assert(chunks.isEmpty, s"doc $id: empty doc must chunk to nothing")
      else {
        // chunk i covers words [i*stride, i*stride + W); the union covers
        // the document with no gap and the declared overlap only
        chunks.zipWithIndex.foreach { case ((_, idx, nTok, chunk), i) =>
          assert(idx == i)
          val expect = words.slice(i * stride, i * stride + w)
          assert(chunk == expect.mkString(" "), s"doc $id chunk $i")
          assert(nTok == expect.length)
        }
        val lastStart = (chunks.length - 1) * stride
        assert(lastStart + w >= words.length, s"doc $id: tail words uncovered")
        assert(chunks.length == (if (words.length <= w) 1
          else (words.length - w + stride - 1) / stride + 1))
      }
    }
  }

  test("topKPerKey matches the sort reference on random keyed scores") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(400)((s"k${rnd.nextInt(9)}",
      rnd.nextInt(12).toLong - 3, rnd.nextLong())) // dense scores force ties
    val k = 4
    val ref = rows.groupBy(_._1).flatMap { case (key, rs) =>
      rs.map(r => (r._2, r._3)).sortBy { case (s, i) => (-s, i) }
        .take(k).zipWithIndex
        .map { case ((s, i), rank) => (key, rank + 1L, i, s) }
    }.toSet
    val got = graft.functions.TopK.topKPerKey(
        rows.toDF("k", "score", "id").repartition(11), "k", "score", "id", k)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == ref)
  }
}
