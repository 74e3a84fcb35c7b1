package graft.pipeline

import graft.SparkSpec
import graft.connect.ParquetConnector

/** Parser/config-validation behavior: typed getters, unknown-key rejection,
  * and ERROR ACCUMULATION — every problem reported in one pass (ref:
  * CassandraExtract.scala:22-63, SURVEY §2 row 17).
  */
class ConfigSpec extends SparkSpec {

  private def conns = Map("default" -> new ParquetConnector(sf001))

  test("valid pipeline parses with environments wiring") {
    val conf = s"""{"stages": [
      {"type": "Extract", "name": "e", "table": "nation",
       "outputView": "cfg_nation", "numPartitions": 2,
       "environments": ["test", "production"]},
      {"type": "SqlTransform", "name": "t",
       "sql": "SELECT * FROM cfg_nation", "outputView": "cfg_out"}
    ]}"""
    val p = Parser.parse(conf, conns)
    assert(p.isRight)
    val stages = p.toOption.get.stages
    assert(stages.map(_.stage.name) == Seq("e", "t"))
    assert(stages.head.environments == Seq("test", "production"))
    assert(stages.head.enabledIn("test") && !stages.head.enabledIn("dev"))
    assert(stages(1).enabledIn("anything"))
  }

  test("errors ACCUMULATE: every config problem reported at once") {
    val conf = """{"stages": [
      {"type": "Extract", "name": "e1", "table": "nation",
       "outputView": "v1", "numPartitions": "not_a_number", "bogusKey": 1},
      {"type": "NoSuchStage", "name": "e2"},
      {"type": "Load", "name": "e3", "table": "t",
       "connection": "missing_conn", "inputView": "v1", "saveMode": "Truncate"}
    ]}"""
    val Left(errs) = Parser.parse(conf, conns): @unchecked
    val keys = errs.map(_.key)
    assert(keys.exists(_.contains("numPartitions")), "bad int type recorded")
    assert(keys.exists(_.contains("bogusKey")), "unknown key recorded")
    assert(keys.exists(_.contains("stages[1].type")), "unknown stage type recorded")
    assert(keys.exists(_.contains("connection")), "unknown connection recorded")
    assert(keys.exists(_.contains("saveMode")), "invalid enum value recorded")
    assert(errs.size >= 5, s"all errors in one pass, got: $errs")
  }

  test("missing statement source and unreadable inputURI are config errors") {
    val conf = """{"stages": [
      {"type": "Execute", "name": "x1"},
      {"type": "Execute", "name": "x2", "inputURI": "/no/such/file.sql"}
    ]}"""
    val Left(errs) = Parser.parse(conf, conns): @unchecked
    assert(errs.exists(e => e.key.contains("sql")))
    assert(errs.exists(e => e.key.contains("inputURI")))
  }

  test("malformed JSON is a config error, not an exception") {
    assert(Parser.parse("{nope", conns).isLeft)
    assert(Parser.parse("""{"notStages": []}""", conns).isLeft)
  }

  test("config errors carry the HOCON source line number") {
    // invalid saveMode sits on line 5 of this document (ref parity:
    // CassandraExtract.scala:59-62 reports typesafe-config line numbers)
    val conf = """stages = [
                 |  { type = Load, name = sink
                 |    inputView = v1
                 |    table = t
                 |    saveMode = Truncate }
                 |]""".stripMargin
    val Left(errs) = Parser.parse(conf, conns): @unchecked
    val sm = errs.find(_.key.contains("saveMode")).get
    assert(sm.message.startsWith("line 5:"), sm.message)
    // a MISSING key anchors to its stage object's line
    val missing = errs.find(_.key.contains("outputView")).orElse(
      errs.find(_.message.contains("missing")))
    assert(missing.forall(_.message.matches("line \\d+:.*")), errs.mkString("; "))
  }

  test("native HOCON pipeline config: substitution, comments, unquoted keys") {
    val conf = """
      views { out = hocon_cfg_out }   // shared via substitution
      stages = [
        { type = Extract, name = e, table = nation
          outputView = cfg_hocon_nation }
        { type = SqlTransform, name = t
          sql = "SELECT * FROM cfg_hocon_nation"
          outputView = ${views.out} }
      ]"""
    val p = Parser.parse(conf, conns)
    assert(p.isRight, p)
    assert(p.toOption.get.stages.map(_.stage.name) == Seq("e", "t"))
  }

  test("statement text resolves from file URI at config time") {
    val f = java.nio.file.Files.createTempFile("graft", ".sql")
    java.nio.file.Files.writeString(f, "SELECT 1 AS one")
    val conf = s"""{"stages": [
      {"type": "SqlTransform", "name": "t",
       "inputURI": "file:$f", "outputView": "cfg_uri_out"}
    ]}"""
    val p = Parser.parse(conf, conns)
    assert(p.isRight)
  }

  test("sql parameter injection: values, defaults, strict missing") {
    assert(SqlParams.inject("SELECT ${a} + ${b=2}", Map("a" -> "1")) == "SELECT 1 + 2")
    assert(SqlParams.inject("${a=x}", Map("a" -> "y")) == "y")
    intercept[IllegalArgumentException] {
      SqlParams.inject("SELECT ${missing}", Map.empty)
    }
    intercept[IllegalArgumentException] { // malformed placeholder caught too
      SqlParams.inject("SELECT ${a b}", Map.empty)
    }
    // allowMissing: placeholder passes through untouched
    assert(SqlParams.inject("${keep}", Map.empty, allowMissing = true) == "${keep}")
  }

  test("every registered stage type rejects an unknown key and accepts the common ones") {
    val common = Seq("connection", "environments", "name", "type")
    for (tpe <- Parser.defaultRegistry.keySet.toSeq.sorted) {
      val conf = s"""stages = [
                    |  { type = "$tpe", name = s, connection = default, environments = ["test"]
                    |    zzTypo = 1 }
                    |]""".stripMargin
      val errs = Parser.parse(conf, conns).left.getOrElse(Nil)
      // the unknown-key error comes ahead of the factory's own errors
      val typo = errs.headOption.filter(_.key == "stages[0].zzTypo")
      assert(typo.exists(_.message.startsWith("line 3: unknown option; expected one of ")),
        s"$tpe: ${errs.mkString("; ")}")
      val listed = typo.get.message.split("expected one of ").last.split(", ").toSet
      assert(common.forall(listed.contains), s"$tpe lists $listed")
      assert(errs.forall(e => e.key == "stages[0].zzTypo" ||
        !e.message.contains("unknown option")), s"$tpe: ${errs.mkString("; ")}")
    }
  }

  test("keys a factory uses on only one branch are accepted on every branch") {
    val stages = Seq(
      """{"type": "TypingTransform", "name": "t", "inputView": "a",
        | "outputView": "b", "schema": "[]", "schemaURI": "file:/no/such.json"}""",
      """{"type": "SqlTransform", "name": "q", "sql": "SELECT 1",
        | "inputURI": "file:/no/such.sql", "authentication": {"user": "u"},
        | "outputView": "b"}""",
      """{"type": "ZorderTransform", "name": "z", "inputView": "a",
        | "outputView": "b", "idCol": "id", "cols": ["x", "y"],
        | "xCol": "x", "yCol": "y"}""",
      """{"type": "ZorderTransform", "name": "d", "inputView": "a",
        | "outputView": "b", "idCol": "id", "method": "delete",
        | "outputDir": "/tmp/z", "xCol": "x", "yCol": "y"}""")
      .map(_.stripMargin)
    for (st <- stages) {
      val errs = Parser.parse(s"""{"stages": [$st]}""", conns).left.getOrElse(Nil)
      assert(!errs.exists(_.message.contains("unknown option")), s"$st: ${errs.mkString("; ")}")
    }
  }

  test("an invalid method on an extension stage is a parse-time error") {
    val conf = """stages = [
                 |  { type = DedupTransform, name = dd
                 |    inputView = a, outputView = b
                 |    method = minhsh }
                 |]""".stripMargin
    val Left(errs) = Parser.parse(conf, conns): @unchecked
    val valid = Parser.methodEnums("DedupTransform").mkString(", ")
    assert(errs.map(e => e.key -> e.message) == List("stages[0].method" ->
      s"line 4: invalid value 'minhsh'; expected one of $valid"))
    // every method stage validates its own selector against its arms
    assert(Seq("DedupTransform", "TextAnalysisTransform", "StreamingLoad")
      .forall(Parser.methodEnums.contains))
    for ((tpe, methods) <- Parser.methodEnums.toSeq.sortBy(_._1)) {
      val selector = if (tpe == "TextAnalysisTransform") "analysis" else "method"
      val conf = s"""stages = [
                    |  { type = "$tpe", name = s
                    |    $selector = zz }
                    |]""".stripMargin
      val errs = Parser.parse(conf, conns).left.getOrElse(Nil)
      assert(methods.nonEmpty && errs.contains(ConfigError(s"stages[0].$selector",
        s"line 3: invalid value 'zz'; expected one of ${methods.mkString(", ")}")),
        s"$tpe: ${errs.mkString("; ")}")
    }
  }

  test("a method's required view or directory is a parse-time error") {
    val needs = Seq(
      ("SketchTransform", "kmv_diff", "otherView"),
      ("SketchTransform", "join_size", "otherView"),
      ("ZorderTransform", "hilbert_write", "outputDir"),
      ("DedupTransform", "exact_incremental", "seenView"),
      ("DedupTransform", "minhash_incremental", "seenView"),
      ("DedupTransform", "keep_best", "componentsView"),
      ("DedupTransform", "cluster_stats", "componentsView"),
      ("SampleTransform", "leakage_safe_split", "componentsView"),
      ("SimilarityTransform", "ivf_write", "indexDir"),
      ("SimilarityTransform", "ivf_query", "indexDir"))
    for ((tpe, method, key) <- needs) {
      def errs(extra: String) = Parser.parse(
        s"""stages = [
           |  { type = "$tpe", name = s, inputView = a, outputView = b
           |    method = $method $extra }
           |]""".stripMargin, conns).left.getOrElse(Nil)
      assert(errs("").contains(ConfigError(s"stages[0].$key",
        s"line 2: missing; method '$method' requires it")),
        s"$tpe $method: ${errs("").mkString("; ")}")
      assert(!errs(s""", $key = "v" """).exists(_.key == s"stages[0].$key"),
        s"$tpe $method with $key")
    }
  }
}
