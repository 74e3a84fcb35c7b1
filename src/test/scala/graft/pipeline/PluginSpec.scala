package graft.pipeline

import graft.SparkSpec
import graft.connect.ParquetConnector

/** ServiceLoader stage discovery (ref parity: the reference registers its
  * stages via META-INF/services; SURVEY §2 row 19). The plugins under test
  * live in TestStagePlugins.scala and are wired ONLY through the
  * test-resources service file.
  */
class PluginSpec extends SparkSpec {

  test("a service-registered stage type parses and runs with no registry change") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    val conf = """{"stages": [
      {"type": "Extract", "name": "n", "table": "nation", "outputView": "pl_nation"},
      {"type": "UppercaseTransform", "name": "up",
       "inputView": "pl_nation", "outputView": "pl_upper", "column": "n_name"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    val out = Runner.run(p).get
    assert(out.count() == 25)
    import spark.implicits._
    val names = out.select("n_name").as[String].collect()
    assert(names.nonEmpty && names.forall(n => n == n.toUpperCase))
  }

  test("a plugin stage rejects keys its factory does not read") {
    val conf = """{"stages": [
      {"type": "UppercaseTransform", "name": "up",
       "inputView": "a", "outputView": "b", "column": "c", "colunm": "typo"}
    ]}"""
    val Left(errs) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(errs.exists(e =>
      e.key.contains("colunm") && e.message.contains("unknown option")),
      errs.toString)
  }

  test("a plugin cannot shadow a built-in stage type") {
    implicit val ctx: PipelineContext = PipelineContext(spark)
    // ShadowingExtractPlugin claims type "Extract" and its factory throws;
    // parse+run must use the built-in (registry wins on collision).
    val conf = """{"stages": [
      {"type": "Extract", "name": "n", "table": "region", "outputView": "pl_region"}
    ]}"""
    val Right(p) = Parser.parse(conf,
      Map("default" -> new ParquetConnector(sf001))): @unchecked
    assert(Runner.run(p).get.count() == 5)
  }

  test("discovery failure degrades to the built-in registry") {
    // an empty context classloader: the service file is invisible, but
    // built-in stages still parse
    val prev = Thread.currentThread.getContextClassLoader
    try {
      Thread.currentThread.setContextClassLoader(
        new java.net.URLClassLoader(Array.empty, null))
      assert(Parser.discoveredPlugins().isEmpty)
    } finally Thread.currentThread.setContextClassLoader(prev)
  }
}
