package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Guards the NORMALIZED schema contract each query family relies on, so
  * fixture drift (the round-8 incident: events.ts moved from
  * TIMESTAMP(NANOS)-as-BIGINT to parquet timestamp[us]) fails as one
  * readable assert naming the table and column, not as 15 scattered
  * DATATYPE_MISMATCH analysis errors in downstream queries.
  *
  * The contract is over what `Tables` RETURNS (post-normalization), not the
  * physical parquet encoding — Tables.events is specified to absorb encoding
  * drift for `ts`; everything else is expected verbatim.
  */
class SchemaContractSpec extends SparkSpec {

  private val contract: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    // ts is the engine-wide long-nanos contract — the whole event-time
    // family (15 queries + EventStreams) does integer arithmetic on it.
    "events" -> Seq("event_id" -> LongType, "ts" -> LongType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  // Load through the NAMED accessors so the contract covers each table's
  // normalization (events' nanos contract, orders/lineitem's NTZ cast),
  // not the raw physical read.
  private def load(name: String) = name match {
    case "events"   => Tables.events(spark, sfDir)
    case "orders"   => Tables.orders(spark, sfDir)
    case "lineitem" => Tables.lineitem(spark, sfDir)
    case other      => Tables.table(spark, sfDir, other)
  }

  test("every fixture table matches its normalized schema contract") {
    assert(contract.keySet == Tables.names.toSet,
      "contract map out of sync with Tables.names")
    val drift = Tables.names.flatMap { name =>
      val actual = load(name).schema.fields.map(f => f.name -> f.dataType).toSeq
      if (actual == contract(name)) None
      else Some(s"$name:\n  expected ${contract(name).map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")}" +
        s"\n  found    ${actual.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")}")
    }
    assert(drift.isEmpty, s"fixture schema drift detected:\n${drift.mkString("\n")}")
  }

  test("events.ts normalization is exact: long nanos at µs granularity, matching the raw timestamps") {
    // These asserts describe the TIMESTAMP-encoded fixture path; on a
    // legacy long-nanos fixture (which Tables.events passes through
    // verbatim — its own test below) they would fire spuriously:
    // sub-µs residue is legitimate in nanos, and casting a raw long to
    // TimestampType reinterprets it as SECONDS. Gate on the raw type so
    // a fixture revert cannot redden a correct engine.
    val raw = Tables.table(spark, sfDir, "events")
    assume(raw.schema("ts").dataType == TimestampType ||
           raw.schema("ts").dataType == TimestampNTZType,
      s"fixture ts is ${raw.schema("ts").dataType}; µs-exactness asserts not applicable")
    val normalized = Tables.events(spark, sfDir)
    // µs-encoded fixtures can never populate sub-µs nanos; a violation means
    // the normalization multiplied or divided by a wrong factor.
    assert(normalized.filter(pmod(col("ts"), lit(1000L)) =!= 0L).isEmpty,
      "normalized ts has sub-microsecond residue")
    // Cross-check against an independent read of the raw column: the
    // normalized long must equal unix_micros of the raw timestamp * 1000.
    val rawUs = raw
      .select(col("event_id"), unix_micros(col("ts").cast(TimestampType)).as("us"))
    val joined = normalized.select(col("event_id"), col("ts"))
      .join(rawUs, "event_id")
      .filter(col("ts") =!= col("us") * 1000L)
    assert(joined.isEmpty, "normalized ts disagrees with raw timestamp column")
  }

  test("a legacy long-nanos events fixture passes through unchanged") {
    val dir = tempDir("graft-legacy-events")
    import spark.implicits._
    val rows = Seq((1L, 1700000000123456789L, 7L, "view", 1.0, "{}"),
      (2L, 1700000001000000000L, 8L, "click", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val back = Tables.events(spark, dir)
    assert(back.schema("ts").dataType == LongType)
    assert(back.select("ts").as[Long].collect().sorted.toSeq ==
      Seq(1700000000123456789L, 1700000001000000000L))
  }

  test("a tz-adjusted orders fixture normalizes to NTZ with identical wall-clock values") {
    val dir = tempDir("graft-tz-orders")
    import spark.implicits._
    // Writing a TimestampType column produces isAdjustedToUTC=true parquet
    // — the flipped-bit drift tsToNtz guards against. The literal parses
    // under the UTC SESSION timezone (to_timestamp), not the JVM default
    // zone (java.sql.Timestamp.valueOf would), so the round-trip assert
    // is machine-independent.
    val src = Seq((1L, 2L, "O", 10.0, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .withColumn("o_orderdate", to_timestamp(lit("2024-03-05 07:30:00")))
    src.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val back = Tables.orders(spark, dir)
    assert(back.schema("o_orderdate").dataType == TimestampNTZType)
    assert(back.select(date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss")).as[String].head()
      == "2024-03-05 07:30:00")
  }

  test("an unsupported ts encoding fails fast with the found schema, not a downstream analysis error") {
    val dir = tempDir("graft-bad-events")
    import spark.implicits._
    Seq((1L, "2024-01-01T00:00:00", 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("string"))
  }
}
