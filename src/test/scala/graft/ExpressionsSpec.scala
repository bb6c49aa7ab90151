package graft

import graft.functions.GraftFunctions
import graft.pipeline.Corpus
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-expr-spec")
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(s)
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("pdf_extract SQL expression round-trips pdf and html payloads") {
    import spark.implicits._
    val rows = Seq(
      Corpus.pageRowFor(10L, "sql surface extraction works end to end", "en"),
      Corpus.pageRowFor(11L, "and the html path too of course", "en"))
    rows.toDS().createOrReplaceTempView("expr_pages")
    val out = spark.sql(
      """SELECT url, pdf_extract(html).kind AS kind, pdf_extract(html).text AS text,
        |       pdf_extract(html).decode_failures AS failures
        |FROM expr_pages""".stripMargin)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getInt(3))).toMap
    assert(out(Corpus.UrlPrefix + 10) == (("pdf", "sql surface extraction works end to end", 0)))
    assert(out(Corpus.UrlPrefix + 11) == (("html", "and the html path too of course", 0)))
  }

  test("simhash64 SQL matches Dedup.simhash64 and stays in codegen; simhashes() plan has no typed-map conversion") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog every day",
      "a different document with other words entirely present here",
      "tiny") // < 4 words -> signature 0
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    df.createOrReplaceTempView("expr_sim")
    val got = spark.sql("SELECT doc_id, simhash64(text) AS s FROM expr_sim")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == graft.dedup.Dedup.simhash64(t), s"doc $i")
    }
    // codegen evidence on a non-constant-foldable source
    val planDf = spark.range(3).selectExpr("concat('w x y z doc ', id) AS t")
      .selectExpr("simhash64(t) AS s")
    val plan = planDf.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().trim.startsWith("*(") && plan.contains("simhash64"), plan)
    // the Column-based simhashes() path must NOT deserialize rows to objects
    val opPlan = graft.dedup.Dedup.simhashes(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!opPlan.contains("DeserializeToObject") && !opPlan.contains("MapElements"), opPlan)
  }

  test("minhash_bands expression equals the Scala banding fold; banded plan has no typed map") {
    import spark.implicits._
    import graft.dedup.Dedup
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "one two three four five six seven eight nine ten eleven twelve",
      "too small") // < 3 words -> no bands
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Dedup.minhashBands(df, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val want = texts.zipWithIndex.flatMap { case (t, i) =>
      val hs = Dedup.shingleHashes(t, 3)
      if (!hs.hasNext) Nil
      else {
        val sig = Dedup.minhashSignature(hs)
        (0 until Dedup.Bands).map(b => (i.toLong, b, Dedup.bandKey(sig, b)))
      }
    }.toSet
    assert(got == want)
    assert(got.count(_._1 == 2L) == 0) // sub-shingle doc emits nothing
    val plan = Dedup.minhashBands(df, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") && plan.contains("minhash_bands"), plan)
  }

  test("pdf_extract rejects non-binary input at analysis time") {
    val e = intercept[Exception](spark.sql("SELECT pdf_extract('not binary')").collect())
    assert(e.getMessage.toLowerCase.contains("binary") || e.getMessage.contains("DATATYPE"))
  }

  test("GraftExtensions wires both function builders") {
    // getOrCreate would reuse the suite session and ignore the extensions
    // config, so apply the injector directly and record what it injects.
    import GraftFunctions.FunctionDescription
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val injected = scala.collection.mutable.Buffer.empty[FunctionDescription]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f
        super.injectFunction(f)
      }
    }
    new graft.functions.GraftExtensions()(ext)
    assert(injected.toSeq == GraftFunctions.all)
    val names = GraftFunctions.all.map(_._1.funcName)
    assert(names == Seq("pdf_extract", "simhash64", "minhash_bands"))
    // register() adds exactly `all` to the builtins: a function dropped
    // from the list no longer resolves in the session
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    val added = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filterNot(builtin).toSet
    assert(added == names.toSet, added)
  }
}
