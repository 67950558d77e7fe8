package graft

import graft.sources.Tables

/** Tables.events must not leave session conf mutated (a read is not
  * allowed session-wide side effects), and the returned DataFrame must
  * stay executable AFTER the conf is restored. */
class TablesSpec extends SparkSpec {

  private val key = "spark.sql.legacy.parquet.nanosAsLong"

  test("events read restores nanosAsLong and the frame still executes") {
    spark.conf.unset(key)
    // the conf has a registered default of "false", so getOption is never
    // empty — assert the visible value is back to that default
    val df = Tables.events(spark, sf())
    assert(spark.conf.get(key) == "false",
      "events() leaked nanosAsLong into the session")
    // execution after restore: the scan captured its conf at relation
    // creation, so unsetting must not break it
    assert(df.count() > 0)
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("events read restores a pre-existing explicit value") {
    spark.conf.set(key, "false")
    Tables.events(spark, sf()).count()
    assert(spark.conf.get(key) == "false")
    spark.conf.unset(key)
  }

  test("the ACTUAL testdata fixture normalizes to TimestampType") {
    // guards against the next silent fixture migration: whatever
    // physical form the driver regenerates events.parquet in, every
    // consumer must see session-zoned TimestampType (r5 broke 9
    // components when the fixture moved NANOS → NTZ and only the
    // MemoryStream-based specs stayed green)
    for (dir <- Seq("sf0.001", "sf0.01")) {
      val df = Tables.events(spark, sf(dir))
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"$dir fixture")
    }
  }

  test("every fixture table's schema matches the engine's expectations") {
    // round-5 lesson: the driver regenerates fixtures between rounds
    // and a silent physical-type migration broke 9 components. Pin
    // column names (order-sensitive) and type families per table so
    // the NEXT migration fails here, loudly, not in an oracle hash.
    // Timestamps match as a family: the batch engine + DuckDB agree on
    // wall-clock values for both TIMESTAMP and TIMESTAMP_NTZ under the
    // UTC session (events.ts alone must normalize to TimestampType —
    // pinned separately above).
    import org.apache.spark.sql.types._
    def fam(dt: DataType): String = dt match {
      case LongType => "long"
      case IntegerType => "int"
      case DoubleType => "double"
      case StringType => "string"
      case TimestampType | TimestampNTZType => "ts"
      case ArrayType(FloatType, _) => "vec"
      case other => other.typeName
    }
    val expected = Map(
      "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "long", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double",
        "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "long", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> Seq("p_partkey" -> "long", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> Seq("o_orderkey" -> "long", "o_custkey" -> "long",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "ts", "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "long", "l_partkey" -> "long",
        "l_suppkey" -> "long", "l_linenumber" -> "int",
        "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string",
        "l_shipdate" -> "ts"),
      "events" -> Seq("event_id" -> "long", "ts" -> "ts",
        "user_id" -> "long", "event_type" -> "string",
        "value" -> "double", "props" -> "string"),
      "documents" -> Seq("doc_id" -> "long", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "long"),
      "embeddings" -> Seq("vec_id" -> "long", "embedding" -> "vec",
        "label" -> "int"))
    for ((t, want) <- expected) {
      val df = if (t == "events") Tables.events(spark, sf())
               else Tables.load(spark, sf(), t)
      val got = df.schema.fields.toSeq.map(f => f.name -> fam(f.dataType))
      assert(got == want, s"$t schema drifted: $got")
    }
  }

  test("footer schemas equal spark.read.parquet inference for every table") {
    // Tables.load reads each schema from the file footer on the driver;
    // this keeps that path from drifting away from Spark's inference
    for (dir <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Tables.all) {
      val d = sf(dir)
      val path = s"$d/$t.parquet"
      if (t == "events") {
        // the raw read and the footer both run under nanosAsLong
        spark.conf.set(key, "true")
        val (inferred, footer) =
          try (spark.read.parquet(path), Tables.load(spark, d, t))
          finally spark.conf.unset(key)
        assert(footer.schema == inferred.schema, s"$dir/$t raw")
        assert(Tables.events(spark, d).schema ==
          Tables.normalizeTs(inferred).schema, s"$dir/$t accessor")
      } else {
        assert(Tables.load(spark, d, t).schema ==
          spark.read.parquet(path).schema, s"$dir/$t")
      }
    }
  }

  test("events.props keeps the single-integer-key contract shape") {
    // q76's oracle REBUILDS the minified Variant roundtrip as
    // '{"k":<int>}' from the extracted value — valid only while every
    // props row is a single-key integer object. A fixture regeneration
    // that adds multi-key or string-valued props must fail HERE with a
    // diagnosable message, not as an opaque q76 hash mismatch.
    import org.apache.spark.sql.functions._
    val bad = Tables.events(spark, sf())
      .filter(!col("props").rlike("""^\{"k": -?\d+\}$"""))
      .count()
    assert(bad == 0L, s"$bad events.props rows broke the {\"k\": int} shape")
  }

  test("documents.text is pure ASCII (m05/m06 oracle byte≡char premise)") {
    // the m05/m06 oracles read text with DuckDB CHARACTER semantics
    // (length/substr/ascii) while the engine parses UTF-8 payload
    // BYTES; the equivalence requires length == octet_length on every
    // row. Pin it so a fixture migration to non-ASCII fails with this
    // message instead of a hash mismatch.
    import org.apache.spark.sql.functions._
    val nonAscii = Tables.documents(spark, sf())
      .filter(length(col("text")) =!= octet_length(col("text")))
      .count()
    assert(nonAscii == 0L, s"$nonAscii documents have non-ASCII text")
  }

  test("normalizeTs handles both historical physical forms identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    // nanos-as-long era: 2021-01-01T00:00:00.123456789 UTC in raw nanos
    val nanos = Seq(1609459200123456789L).toDF("ts")
    val fromNanos = Tables.normalizeTs(nanos)
    assert(fromNanos.schema("ts").dataType == TimestampType)
    // NTZ era: same wall-clock micros, no zone
    val ntz = Seq(1609459200123456L).toDF("us")
      .select(org.apache.spark.sql.functions.timestamp_micros(col("us"))
        .cast(TimestampNTZType).as("ts"))
    val fromNtz = Tables.normalizeTs(ntz)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    // under the UTC session tz both eras land on the same instant
    // (truncated to micros)
    val a = fromNanos.collect()(0).getTimestamp(0)
    val b = fromNtz.collect()(0).getTimestamp(0)
    assert(a == b, s"$a != $b")
    // already-normalized frames pass through untouched
    assert(Tables.normalizeTs(fromNtz).schema("ts").dataType == TimestampType)
  }
}
