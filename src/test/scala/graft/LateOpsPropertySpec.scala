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
