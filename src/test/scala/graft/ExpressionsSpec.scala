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
    assert(names == Seq("pdf_extract"))
    // register() adds exactly `all` to the builtins: a function dropped
    // from the list no longer resolves in the session
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    val added = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filterNot(builtin).toSet
    assert(added == names.toSet, added)
  }
}
