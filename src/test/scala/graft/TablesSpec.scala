package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StringType}

/** The parquet schema resolver (`Tables.parquet`): one footer-schema
  * job per (path, inference confs, file listing), none on later reads,
  * and never a stale schema after a rewrite in place. */
class TablesSpec extends SparkSpec {

  /** Names of the jobs `body` launches (first stage name, e.g.
    * "parquet at Tables.scala:64"), counted by a listener in the
    * `PlanAudit.auditDriverFetches` pattern: drain the bus before
    * registering and before reading. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        names.add(e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse(""))
        ()
      }
    }
    org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try body
      finally {
        try org.apache.spark.sql.GraftBridge.flushListenerBus(spark)
        finally spark.sparkContext.removeSparkListener(listener)
      }
    (out, names.toArray(Array.empty[String]).toSeq)
  }

  private def footerJobs(names: Seq[String]): Seq[String] =
    names.filter(_.startsWith("parquet at "))

  test("a second Tables.load of every table launches no job and keeps the inferred schema") {
    val dir = sf("sf0.001")
    for (name <- Tables.allTables) {
      val first = Tables.load(spark, dir, name)
      val (again, jobs) = jobsDuring(Tables.load(spark, dir, name))
      assert(jobs.isEmpty, s"second load of $name launched jobs: $jobs")
      assert(again.schema === first.schema)
      assert(again.schema === spark.read.parquet(s"$dir/$name.parquet").schema)
    }
    Tables.events(spark, dir)
    val (_, evJobs) = jobsDuring(Tables.events(spark, dir).schema)
    assert(evJobs.isEmpty, s"second events load launched jobs: $evJobs")
  }

  test("constructing the telemetry workload queries a second time launches no footer job") {
    val dir = sf("sf0.001")
    val names =
      Seq("telemetry_daily", "events_ohlc_bars", "join_fact_fact", "analytics_market_share")
    names.foreach(n => SparkEntry.queries(n)(spark, dir))
    val (_, jobs) = jobsDuring(names.foreach(n => SparkEntry.queries(n)(spark, dir)))
    assert(footerJobs(jobs).isEmpty, s"footer-schema jobs on the second construction: $jobs")
  }

  test("a table rewritten in place is read with its new schema, and keeps one cache entry") {
    val p = s"${tempDir("tables_rewrite")}/t.parquet"
    spark.range(5).selectExpr("id", "id * 2 AS x", "CAST(id AS STRING) AS s")
      .write.parquet(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq === Seq("id", "x", "s"))
    // dropped column + changed type
    spark.range(3).selectExpr("id", "CAST(id * 10 AS STRING) AS x")
      .write.mode("overwrite").parquet(p)
    val (df, jobs) = jobsDuring(Tables.parquet(spark, p))
    assert(footerJobs(jobs).size === 1, s"a rewrite must re-read the footer: $jobs")
    assert(df.schema.map(f => f.name -> f.dataType) === Seq("id" -> LongType, "x" -> StringType))
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("0", "10", "20"))
    for (i <- 1 to 4) {
      spark.range(i).selectExpr("id", s"id + $i AS y").write.mode("overwrite").parquet(p)
      assert(Tables.parquet(spark, p).schema.fieldNames.toSeq === Seq("id", "y"))
    }
    assert(Tables.schemaEntries(spark, p) === 1, "rewrites must replace the entry, not add one")
  }

  test("flipping nanosAsLong re-resolves the schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // an INT64 TIMESTAMP(NANOS) column, the encoding nanosAsLong governs
    val p = s"${tempDir("tables_nanos")}/ts.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$p/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1700000000123456789L))
    finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.parquet(spark, p).schema("ts").dataType === LongType)
      spark.conf.set(key, "false")
      // a schema kept from the nanosAsLong=true read would say LongType;
      // a fresh inference under false rejects the nanos column
      intercept[org.apache.spark.sql.AnalysisException](Tables.parquet(spark, p).schema)
      spark.conf.set(key, "true")
      val (df, jobs) = jobsDuring(Tables.parquet(spark, p))
      assert(footerJobs(jobs).isEmpty, s"the nanosAsLong=true entry must still serve: $jobs")
      assert(df.collect().map(_.getLong(0)).toSeq === Seq(1700000000123456789L))
    } finally spark.conf.set(key, before)
  }
}
