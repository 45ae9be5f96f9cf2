package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the two mechanisms behind `scan_variant_shredded` that the oracle
  * row can't see: (1) the parquet FOOTER really carries shredded
  * `typed_value` leaf columns for the variant, (2) with
  * pushVariantIntoScan a typed extraction is rewritten to a struct field
  * read whose ReadSchema prunes to exactly the accessed fields — no
  * variant decode in the plan at all.
  */
class VariantShredSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.sfDir

  private lazy val shredded: String = {
    val tmp = util.tempDir("graft_shredspec_")
    GraftSession.withConfs(spark, ops.Sources.variantShredConfs) {
      Tables.events(spark, dir)
        .select(col("event_id"), expr(
          """parse_json(to_json(named_struct(
            |  'k', cast(get_json_object(props, '$.k') as bigint),
            |  'et', event_type,
            |  'uid', user_id)))""".stripMargin).as("v"))
        .write.mode("overwrite").parquet(s"$tmp/t")
    }
    s"$tmp/t"
  }

  test("the parquet footer carries typed shredded columns for the variant") {
    val f = new java.io.File(shredded).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(f.getAbsolutePath))
    val schema = footer.getFileMetaData.getSchema.toString
    assert(schema.contains("typed_value"),
      "writer must shred the variant into typed_value groups:\n" + schema)
    // the inferred leaves are REAL columnar types, not binary blobs
    assert(schema.contains("required group k") &&
      schema.contains("optional int64 typed_value"),
      "field k must shred to an int64 leaf:\n" + schema)
    assert(schema.contains("required group et"), schema)
  }

  test("pushVariantIntoScan prunes the read to the accessed shredded fields") {
    val q = spark.read.parquet(shredded)
      .select(col("event_id"), expr("variant_get(v, '$.k', 'bigint')").as("k"))
    val plan = q.queryExecution.executedPlan.toString
    // the extraction became a struct field access inside the scan: the
    // read schema carries a pruned struct, and no variant machinery
    // survives in the plan
    assert(plan.contains("ReadSchema: struct<event_id:bigint,v:struct<0:bigint>>"),
      "scan must read ONLY the one accessed shredded field:\n" + plan.take(900))
    assert(!plan.contains("variant_get"),
      "typed access must be pushed, not evaluated post-scan:\n" + plan.take(900))
    // and the values are right (shred → reassemble is lossless)
    val direct = Tables.events(spark, dir)
      .select(col("event_id"),
        expr("cast(get_json_object(props, '$.k') as bigint)").as("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.collect().foreach(r => assert(direct(r.getLong(0)) == r.getLong(1)))
  }
}
