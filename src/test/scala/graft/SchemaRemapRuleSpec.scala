package graft

/** The Catalyst resolution rule: full SQL written against source
  * schema names resolves against the consolidated target schemas.
  */
class SchemaRemapRuleSpec extends SparkSpec {

  test("SELECT FROM public.t resolves through spark.graft.schemaMap") {
    // the shared session carries GraftExtensions; the rule reads the
    // map from the session conf at apply time
    withConf("spark.graft.schemaMap" -> "public=srcdb_public") {
      try {
        import spark.implicits._
        spark.sql("CREATE DATABASE IF NOT EXISTS srcdb_public")
        Seq((1L, "Alice"), (2L, "Bob")).toDF("id", "name")
          .write.mode("overwrite").saveAsTable("srcdb_public.customer")

        // source-schema SQL → target schema, through the analyzer rule
        val n = spark.sql("SELECT count(*) AS n FROM public.customer")
          .collect()(0).getLong(0)
        assert(n == 2)
        val joined = spark.sql(
          """SELECT a.name FROM public.customer a
             JOIN public.customer b ON a.id = b.id
             ORDER BY a.id""").collect().map(_.getString(0)).toSeq
        assert(joined == Seq("Alice", "Bob"))

        // unmapped schemas still fail to resolve
        intercept[Exception] {
          spark.sql("SELECT * FROM nosuch.customer").collect()
        }

        // native pg_array_parse expression, registered by the same
        // extension, callable from SQL and codegen'd
        // SQL unescapes \\ and \" once, so the parser receives
        // {"ALTER TABLE",INSERT,"esc \"q\"",NULL}
        val arr = spark.sql(
          """SELECT pg_array_parse('{"ALTER TABLE",INSERT,"esc \\"q\\"",NULL}') AS a""")
          .collect()(0).getSeq[String](0)
        assert(arr == Seq("ALTER TABLE", "INSERT", "esc \"q\"", null))
        // null input → null output; wrong arity → analysis error
        assert(spark.sql("SELECT pg_array_parse(CAST(NULL AS STRING)) AS a")
          .collect()(0).isNullAt(0))
        intercept[Exception] {
          spark.sql("SELECT pg_array_parse('{a}', 'extra')").collect()
        }
      } finally spark.sql("DROP TABLE IF EXISTS srcdb_public.customer")
    }
  }
}
