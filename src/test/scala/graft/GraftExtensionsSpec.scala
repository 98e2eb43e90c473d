package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** SQL-surface test: native expressions callable from spark.sql after
  * registration (same builders as the spark.sql.extensions injection path). */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  test("jmespath family via SQL") {
    import spark.implicits._
    Seq("""{"k": 87, "tags": ["a", "b"]}""", """{"k": 0}""")
      .toDF("doc").createOrReplaceTempView("docs")
    val r = spark.sql(
      """SELECT jmespath(doc, 'tags[0]') AS t,
        |       jmespath_double(doc, 'k') AS k,
        |       jmes_truthy(doc, 'k > `50`') AS big
        |FROM docs""".stripMargin).collect()
    assert(r(0).getString(0) == "a" && r(0).getDouble(1) == 87.0 && r(0).getBoolean(2))
    assert(r(1).isNullAt(0) && r(1).getDouble(1) == 0.0 && !r(1).getBoolean(2))
  }

  test("vector family via SQL") {
    import spark.implicits._
    Seq((Array(1f, 0f), Array(1f, 0f))).toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql(
      """SELECT cosine_sim(a, b) AS c,
        |       simhash64(array('x', 'y')) AS sh,
        |       size(minhash_sig(array('x', 'y'), 16)) AS msz
        |FROM vecs""".stripMargin).head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == 16)
  }

  test("LowerJmesPathRule rewrites interpreted expressions to native plans") {
    import spark.implicits._
    import graft.functions.jmes._
    import org.apache.spark.sql.functions.col
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.compile.LowerJmesPathRule
    // parquet-backed so ConvertToLocalRelation can't fold the plan away
    val df = Seq(Some("""{"k": 87}"""), Some("""{"k": 3}"""), None).toDF("doc")
    val pq = java.nio.file.Files.createTempDirectory("lower").toString + "/docs"
    df.write.parquet(pq)
    val q = spark.read.parquet(pq).where(jmesTruthy(col("doc"), "k > `50`"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("jmes_truthy"), s"not lowered:\n$optimized")
    // the comparator references the path twice (NaN guard + comparison), so
    // scan fusion kicks in: one streaming pass feeding both uses
    assert(optimized.contains("json_fused") || optimized.contains("json_path_raw"),
      s"expected native extractor:\n$optimized")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("""{"k": 87}"""))
    // null-document convention preserved for constant-foldable expressions
    val lit = df.select(jmespathDouble(col("doc"), "`5`").as("v")).collect()
    assert(lit.map(r => Option(r.get(0))).toSeq == Seq(Some(5.0), Some(5.0), None))
  }

  test("LowerJmesPathRule rewrites VALUE-context expressions to native plans") {
    import spark.implicits._
    import graft.functions.jmes._
    import org.apache.spark.sql.functions.col
    spark.experimental.extraOptimizations =
      (spark.experimental.extraOptimizations :+ graft.compile.LowerJmesPathRule).distinct
    val df = Seq(
      Some("""{"k": 87, "objs": [{"x": 1}, {"y": 2}], "et": "pv"}"""),
      Some("""{"k": 3, "objs": [], "et": ""}"""), None).toDF("doc")
    val pq = java.nio.file.Files.createTempDirectory("lowerv").toString + "/docs"
    df.write.parquet(pq)
    val src = spark.read.parquet(pq)
    // value projection, multi-select, and the CLI -filter combined form
    val q = src.select(
      jmespath(col("doc"), "objs[*].x").as("p"),
      jmespath(col("doc"), "[k, et]").as("m"),
      jmesFiltered(col("doc"), "k >= `50` && k").as("f"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("jmespath("), s"value not lowered:\n$optimized")
    assert(!optimized.contains("jmespath_filtered"), s"filtered not lowered:\n$optimized")
    val rows = q.collect()
    assert(rows.map(r => Option(r.getString(0))).toSeq ==
      Seq(Some("[1]"), Some("[]"), None))
    assert(rows.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("""[87,"pv"]"""), Some("""[3,""]"""), None))
    assert(rows.map(r => Option(r.getString(2))).toSeq ==
      Seq(Some("87"), None, None))
  }

  test("json_* family code-generates (no CodegenFallback, no silent fallback)") {
    import spark.implicits._
    import graft.functions.jmes._
    import org.apache.spark.sql.functions.col
    spark.experimental.extraOptimizations =
      (spark.experimental.extraOptimizations :+ graft.compile.LowerJmesPathRule).distinct
    // make a janino compile error FAIL the query instead of silently
    // reverting to interpreted execution
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // parquet-backed so ConvertToLocalRelation can't evaluate driver-side
      val pq = java.nio.file.Files.createTempDirectory("cg").toString + "/docs"
      Seq(
        """{"k": 87, "tags": ["a", "b"], "o": {"x": 1}}""",
        """{"k": 3, "tags": []}""", "bad json").toDF("doc")
        .coalesce(1).write.parquet(pq)
      val df = spark.read.parquet(pq).orderBy(col("doc").desc) // deterministic row order
      val q = df.select(
        jmespath(col("doc"), "tags[0]").as("a"),
        jmesFiltered(col("doc"), "k >= `50` && k").as("f"),
        jmespathDouble(col("doc"), "length(tags)").as("n"),
        jmespath(col("doc"), "tags[*]").as("p"),
        jmespath(col("doc"), "[k, `1`]").as("ms"),
        jmesTruthy(col("doc"), "k > `50`").as("t"),
        jmespath(col("doc"), "o.nope.deep").as("interp"))
      val rows = q.collect()
      assert(rows.length == 3)
      assert(rows(0).getString(1) == "87" && rows(1).isNullAt(1))
      assert(rows(0).getDouble(2) == 2.0 && rows(0).getBoolean(5))
      assert(rows(2).isNullAt(0) && !rows(2).getBoolean(5))
      // the generated code calls compute() directly — the JsonComputeExpr
      // path, not CodegenFallback's references[i].eval(row)
      val cg = org.apache.spark.sql.execution.debug.codegenString(q.queryExecution.executedPlan)
      assert(cg.contains(".compute("), s"expected direct compute calls in codegen:\n${cg.take(2000)}")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("lowered path preserves interpreted semantics on malformed documents") {
    import spark.implicits._
    import graft.functions.jmes._
    import org.apache.spark.sql.functions.col
    spark.experimental.extraOptimizations =
      (spark.experimental.extraOptimizations :+ graft.compile.LowerJmesPathRule).distinct
    val df = Seq("not json at all", """{"k": 87}""").toDF("doc")
    // negation, literal, null-equality, != — the malformed-sensitive shapes
    for (e <- Seq("!k", "`1`", "missing == `null`", "k != `1`")) {
      val lowered = df.select(jmesTruthy(col("doc"), e)).collect().map(_.getBoolean(0)).toSeq
      assert(graft.compile.Lowering.lowersTruthy(e), s"$e should lower")
      // interpreted reference: malformed doc → FALSE
      val interp = df.collect().map(_.getString(0)).map { d =>
        graft.jmespath.JValue.parseOpt(d) match {
          case None     => false
          case Some(jv) => graft.jmespath.Interpreter.search(e, jv).truthy
        }
      }.toSeq
      assert(lowered == interp, s"[$e] lowered $lowered vs interpreted $interp")
    }
    val litNum = df.select(jmespathDouble(col("doc"), "`5`")).collect()
      .map(r => Option(r.get(0))).toSeq
    assert(litNum == Seq(None, Some(5.0)), "literal over malformed doc must stay NULL")
  }

  test("non-literal JMESPath expression argument is rejected") {
    import spark.implicits._
    Seq(("{}", "k")).toDF("doc", "e").createOrReplaceTempView("d2")
    val err = intercept[Exception] {
      spark.sql("SELECT jmespath(doc, e) FROM d2").collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("ProdSession carries the SessionTuning.builder() configuration") {
    val prod = ProdSession.spark
    assert(prod.conf.get(SessionTuning.ObjectHashFallbackKey) == "65536")
    assert(prod.conf.get("spark.sql.shuffle.partitions").toInt ==
      prod.sparkContext.defaultParallelism)
    // exactly once: a second copy means both the conf string and
    // withExtensions injected the rules
    val preCbo = prod.sessionState.optimizer.defaultBatches
      .filter(_.name == "Pre CBO Rules").flatMap(_.rules).map(_.ruleName)
    for (r <- Seq(graft.compile.LowerJmesPathRule, graft.compile.FuseProjectScans))
      assert(preCbo.count(_ == r.ruleName) == 1,
        s"${r.ruleName} should be in the Pre CBO batch once: $preCbo")
  }
}
