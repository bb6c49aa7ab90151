package graft

import graft.functions.Urls
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
}
