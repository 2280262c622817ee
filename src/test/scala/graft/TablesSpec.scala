package graft

import org.apache.spark.sql.functions._

/** Pins the schema-adaptive events loader: driver testdata regenerations
  * have shipped `ts` as TIMESTAMP(NANOS) (reads as a raw nanos LONG under
  * the legacy conf) and as TIMESTAMP(MICROS) (reads as TIMESTAMP_NTZ) —
  * r5 lost 46 green queries to a loader that assumed one physical type.
  * All representations must load to the identical canonical µs TIMESTAMP.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // three known epochs, sub-second micros included
  private val epochsMicros = Seq(1700000000000000L, 1700000123456789L, 0L)

  private def writeEvents(tag: String, tsCol: org.apache.spark.sql.Column): String = {
    val dir = ScratchDirs.fresh("graft_test", s"events_$tag")
    epochsMicros.zipWithIndex.toDF("us", "event_id")
      .select(col("event_id").cast("long"), tsCol.as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir.toString
  }

  private def load(dir: String): Map[Long, Long] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().toMap

  test("long-nanos, timestamp_ntz, and timestamp events all load identically") {
    val asNanosLong = writeEvents("nanos", (col("us") * 1000L).cast("long"))
    val asNtz = writeEvents("ntz", timestamp_micros(col("us")).cast("timestamp_ntz"))
    val asLtz = writeEvents("ltz", timestamp_micros(col("us")))
    val expected = epochsMicros.zipWithIndex
      .map { case (us, i) => (i.toLong, us) }.toMap
    assert(load(asNanosLong) == expected, "nanos-long path")
    assert(load(asNtz) == expected, "timestamp_ntz path")
    assert(load(asLtz) == expected, "timestamp path")
  }

  test("schema memo re-infers one path under each nanosAsLong setting") {
    // Spark cannot write TIMESTAMP(NANOS); parquet's example writer can
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = s"${ScratchDirs.fresh("graft_test", "nanos_memo")}/t.parquet"
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
      .withType(schema).build()
    w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      val asLong = Tables.pq(spark, path)
      assert(asLong.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      assert(asLong.select("ts").as[Long].collect().toSeq == Seq(1700000000123456789L))
      // without the setting, a fresh inference rejects the nanos column;
      // the memoized read must do the same, not reuse the LONG schema
      spark.conf.set(key, "false")
      val e = intercept[org.apache.spark.sql.AnalysisException](
        Tables.pq(spark, path).collect())
      assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
      spark.conf.set(key, "true")
      assert(Tables.pq(spark, path).schema == asLong.schema)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("loader rejects an unsupported ts type loudly") {
    val asString = writeEvents("str", lit("2024-01-01").cast("string"))
    val e = intercept[RuntimeException](Tables.events(spark, asString))
    assert(e.getMessage.contains("unsupported parquet type"))
  }

  /** Schema contract over the driver testdata: the column names and the
    * type CLASSES the engine depends on. A regeneration that drifts (the
    * r5 events ts change) fails here by NAME at round start instead of
    * erroring 46 queries deep. Type classes, not exact types: integral /
    * fractional / string / timestamp-like / array — the loaders tolerate
    * width and tz-ness changes within a class.
    */
  test("driver testdata matches the engine's schema contract") {
    import org.apache.spark.sql.types._
    val dir = "/root/testdata/sf0.001"
    def cls(dt: DataType): String = dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType => "int"
      case _: FloatType | _: DoubleType | _: DecimalType => "num"
      case _: StringType => "str"
      case _: TimestampType | _: TimestampNTZType | _: DateType => "time"
      case ArrayType(e, _) => s"arr<${cls(e)}>"
      case other => other.simpleString
    }
    val contract: Seq[(String, org.apache.spark.sql.DataFrame, Seq[(String, String)])] = Seq(
      ("region", Tables.region(spark, dir),
        Seq("r_regionkey" -> "int", "r_name" -> "str")),
      ("nation", Tables.nation(spark, dir),
        Seq("n_nationkey" -> "int", "n_name" -> "str", "n_regionkey" -> "int")),
      ("customer", Tables.customer(spark, dir),
        Seq("c_custkey" -> "int", "c_name" -> "str", "c_nationkey" -> "int",
          "c_acctbal" -> "num", "c_mktsegment" -> "str")),
      ("supplier", Tables.supplier(spark, dir),
        Seq("s_suppkey" -> "int", "s_name" -> "str", "s_nationkey" -> "int",
          "s_acctbal" -> "num")),
      ("part", Tables.part(spark, dir),
        Seq("p_partkey" -> "int", "p_name" -> "str", "p_brand" -> "str",
          "p_type" -> "str", "p_size" -> "int", "p_retailprice" -> "num")),
      ("orders", Tables.orders(spark, dir),
        Seq("o_orderkey" -> "int", "o_custkey" -> "int", "o_orderstatus" -> "str",
          "o_totalprice" -> "num", "o_orderdate" -> "time",
          "o_orderpriority" -> "str")),
      ("lineitem", Tables.lineitem(spark, dir),
        Seq("l_orderkey" -> "int", "l_partkey" -> "int", "l_suppkey" -> "int",
          "l_linenumber" -> "int", "l_quantity" -> "num",
          "l_extendedprice" -> "num", "l_discount" -> "num", "l_tax" -> "num",
          "l_returnflag" -> "str", "l_linestatus" -> "str",
          "l_shipdate" -> "time")),
      ("events", Tables.events(spark, dir), // post-normalization view
        Seq("event_id" -> "int", "ts" -> "time", "user_id" -> "int",
          "event_type" -> "str", "value" -> "num", "props" -> "str")),
      ("documents", Tables.documents(spark, dir),
        Seq("doc_id" -> "int", "text" -> "str", "lang" -> "str",
          "source" -> "str", "n_chars" -> "int")),
      ("embeddings", Tables.embeddings(spark, dir),
        Seq("vec_id" -> "int", "embedding" -> "arr<num>", "label" -> "int")))
    for ((tbl, df, want) <- contract) {
      val got = df.schema.map(f => f.name -> cls(f.dataType)).toMap
      for ((c, k) <- want)
        assert(got.get(c).contains(k),
          s"$tbl.$c: expected class $k, schema has ${got.get(c)} — " +
            "driver testdata drifted; check the loaders in Tables.scala")
    }
  }

  test("no embedding has zero norm at either gate SF") {
    // every cosine in the engine AND every DuckDB oracle divides by
    // sqrt(v·v) without a zero guard; both sides agree only because the
    // corpus contains no zero vector. That invariant lives in the driver's
    // testdata generator, not in any code this repo controls — pin it so
    // a regeneration that introduces one reds a NAMED test instead of
    // silently diverging every cosine query cross-engine (NaN ordering
    // differs between Spark and DuckDB).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val zeros = Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double")).as("ss"))
        .filter(col("ss") === 0.0).select("vec_id")
        .collect().map(_.getLong(0))
      assert(zeros.isEmpty,
        s"$dir has zero-norm embeddings ${zeros.take(5).mkString(",")} — " +
          "every cosine query now NaN-diverges cross-engine; regenerate " +
          "testdata or add explicit zero-norm handling to Similarity.cosine " +
          "and every oracle")
    }
  }
}
