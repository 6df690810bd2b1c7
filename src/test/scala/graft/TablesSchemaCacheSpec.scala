package graft

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Tables reads declare the schema decoded from the file's cached
  * footer instead of inferring it — the declared read must be
  * indistinguishable from plain inference (same schema incl.
  * nullability/nested types, same rows), and the events NTZ
  * normalization must still apply on top of it. */
class TablesSchemaCacheSpec extends SparkSpec {

  test("declared-schema reads are schema- and row-identical to plain inference") {
    val t = Tables(spark, sf)
    for (name <- t.starTables ++ Seq("documents", "embeddings", "events")) {
      val inferred = spark.read.parquet(s"$sf/$name.parquet")
      val cached   = t.byName(name)
      assert(cached.schema == inferred.schema,
        s"$name: declared schema differs from inference")
      assert(cached.count() == inferred.count(), s"$name: row count differs")
    }
  }

  test("events ts is normalized to TimestampType through the cached read") {
    val ev = Tables(spark, sf).events
    assert(ev.schema("ts").dataType == TimestampType)
    // and the raw (cached) read really was NTZ, so the cast branch ran
    val raw = Tables(spark, sf).byName("events")
    assert(raw.schema("ts").dataType.isInstanceOf[TimestampNTZType] ||
      raw.schema("ts").dataType == TimestampType)
  }
}
