package graft.ops

import graft.{Q, Tables, util}
import graft.GraftSession.{mountCatalog, withConfs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.Trigger

/** §2.1 remaining sources / sinks. The reference's wire formats are
  * gzip JSONL/CSV/TSV/Parquet with externally declared, versioned schemas
  * (SURVEY.md §1.1 [DAP]) — everything here reads with an explicit
  * `StructType`, never inference, matching that schema-first contract.
  * Round trips are derived from the parquet fixtures so each oracle is just
  * the identity query on the source table.
  */
object Sources {

  private def tmpDir(prefix: String): String = graft.util.tempDir(prefix)

  /** Z-order (Morton) key: interleave the low `bits` bits of two
    * non-negative integer dimensions — bit i of x lands at position 2i, bit
    * i of y at 2i+1. Emitted as a plain integer-arithmetic sum so the SAME
    * formula runs on both engines; `shift` abstracts the one syntax
    * difference (Spark `shiftright(x, i)` vs DuckDB `(x >> i)`). All terms
    * are exact BIGINT ops — no float anywhere, so the key is trivially
    * hash-stable.
    */
  private[graft] def zkeyExpr(
      x: String, y: String, bits: Int, shift: (String, Int) => String): String =
    (0 until bits).map { i =>
      val px = 1L << (2 * i)
      val py = 1L << (2 * i + 1)
      s"((${shift(x, i)} & 1) * $px + (${shift(y, i)} & 1) * $py)"
    }.mkString("(", " + ", ")")

  private[graft] def zkeySpark(x: String, y: String, bits: Int): String =
    zkeyExpr(x, y, bits, (c, i) => s"shiftright($c, $i)")

  private[graft] def zkeyDuck(x: String, y: String, bits: Int): String =
    zkeyExpr(x, y, bits, (c, i) => s"($c >> $i)")

  /** Hilbert curve index as a chain of per-level CTEs — the
    * state-dependent sibling of [[zkeyExpr]]. Unlike Morton, Hilbert bits
    * can't be summed independently: each level conditionally reflects and
    * swaps the remaining coordinates (the quadrant rotation that buys
    * Hilbert its adjacency guarantee — consecutive keys are ALWAYS
    * neighboring cells, where a Z-curve takes long diagonal jumps at
    * quadrant seams). The classic xy→d loop is unrolled: level k tests
    * bit s=2^k, adds s²·q (q = quadrant rank, a 4-case CASE — no xor
    * operator needed), and rewrites (x,y) via CASE. Everything is BIGINT
    * compares/arithmetic with `&` bit-tests, a dialect both engines parse
    * IDENTICALLY — one shared text, no per-engine variant.
    *
    * @param inCte name of the CTE providing (`x0`, `y0`) in [0, 2^bits)
    *              plus carried columns
    * @param carry columns to thread through unchanged
    */
  private[graft] def hilbertCtes(inCte: String, bits: Int, carry: Seq[String]): String = {
    val cols = carry.mkString(", ")
    val n1 = (1L << bits) - 1 // reflection constant: bitwise NOT within the grid
    (bits - 1 to 0 by -1).zipWithIndex.map { case (k, i) =>
      val s = 1L << k
      val prev = if (i == 0) inCte else s"hl${i - 1}"
      val x = if (i == 0) "x0" else "x"
      val y = if (i == 0) "y0" else "y"
      val d = if (i == 0) "CAST(0 AS BIGINT)" else "d"
      s"""hl$i AS (
         |  SELECT $cols,
         |    CASE WHEN ($y & $s) > 0 THEN $x
         |         WHEN ($x & $s) > 0 THEN $n1 - $y ELSE $y END AS x,
         |    CASE WHEN ($y & $s) > 0 THEN $y
         |         WHEN ($x & $s) > 0 THEN $n1 - $x ELSE $x END AS y,
         |    $d + $s * $s * (CASE WHEN ($x & $s) > 0 AND ($y & $s) > 0 THEN 2
         |                         WHEN ($x & $s) > 0 THEN 3
         |                         WHEN ($y & $s) > 0 THEN 1 ELSE 0 END) AS d
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")
  }

  /** Orders keyed by Hilbert index over the scaled (custkey × day) grid —
    * everything except the day-index extraction (the one dialect split:
    * Spark `datediff`, DuckDB date subtraction) is shared text. Scaling
    * uses float-floor division instead of integer `div`/`//` so the SAME
    * string parses on both engines; under [[scaledGrid]]'s precondition the
    * doubles are exact.
    */
  private[graft] def hilbertOrdersSql(dayIdxExpr: String): String =
    s"""WITH src AS (
       |  SELECT o_orderkey, o_custkey, $dayIdxExpr AS day_idx FROM orders),
       |b AS (
       |  SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
       |         min(day_idx) AS dmin, max(day_idx) AS dmax
       |  FROM src),
       |sc AS (
       |  SELECT o_orderkey, o_custkey, day_idx,
       |         CAST(floor(CAST((o_custkey - cmin) * 1024 AS DOUBLE)
       |              / CAST(cmax - cmin + 1 AS DOUBLE)) AS BIGINT) AS x0,
       |         CAST(floor(CAST((day_idx - dmin) * 1024 AS DOUBLE)
       |              / CAST(dmax - dmin + 1 AS DOUBLE)) AS BIGINT) AS y0
       |  FROM src CROSS JOIN b),
       |${hilbertCtes("sc", 10, Seq("o_orderkey", "o_custkey", "day_idx"))}
       |SELECT o_orderkey, o_custkey, day_idx, d AS hkey FROM hl9""".stripMargin

  /** Days since 1992-01-01 of `o_orderdate`, as BIGINT `day_idx`. */
  private def dayIdx: Column =
    datediff(col("o_orderdate").cast("date"), lit("1992-01-01").cast("date"))
      .cast("long").as("day_idx")

  /** Add the (custkey × day) grid cells `cs`/`ds` to an orders frame with
    * `o_custkey` and `day_idx`. Raw values must NOT be interleaved
    * directly: with unequal domain widths (150 custkeys vs ~2400 days at
    * sf0.001) the wider dimension owns all the high bits and the curve
    * degenerates to a single-column sort. Both dimensions are scaled to a
    * common 1024-cell grid — the range-rank trick production Z-order and
    * Hilbert writers use — with `* 1024 div span`. The min/max bounds come
    * from a broadcast one-row aggregate — at scale, a column-statistics
    * read.
    *
    * Precondition: the operands `(v - min) * 1024` and `span` are
    * non-negative and below 2^53. Then Spark's truncating `div`, DuckDB's
    * floor `//` and the float-floor text of [[hilbertOrdersSql]] all give
    * the same cell.
    */
  private[graft] def scaledGrid(o: DataFrame): DataFrame = {
    val bounds = o.agg(
      min(col("o_custkey")).as("cmin"), max(col("o_custkey")).as("cmax"),
      min(col("day_idx")).as("dmin"), max(col("day_idx")).as("dmax"))
    o.crossJoin(broadcast(bounds))
      .withColumn("cs", expr("((o_custkey - cmin) * 1024) div (cmax - cmin + 1)"))
      .withColumn("ds", expr("((day_idx - dmin) * 1024) div (dmax - dmin + 1)"))
  }

  /** Orders with a Z-order key over the [[scaledGrid]] cells, exactly
    * reproducible in the oracle.
    */
  private[graft] def zorderOrders(s: SparkSession, dir: String): DataFrame =
    scaledGrid(Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), dayIdx))
      .withColumn("zkey", expr(zkeySpark("cs", "ds", 10)))
      .select(col("o_orderkey"), col("o_custkey"), col("day_idx"), col("zkey"))

  /** The rows below that run a streaming query to completion inside fn —
    * they get the same scoped input-size-derived shuffle/state partition
    * width as the Streaming tier (see
    * [[Streaming.withStreamStatePartitions]]): state stores and manifest
    * commits are per-partition fixed cost per micro-batch, and the
    * foreachBatch sinks here additionally write one parquet file per
    * partition per commit, so oversized widths also bloat the re-read.
    */
  private val streamingRows = Set(
    "source_streaming_files", "stream_from_table_feed",
    "stream_table_cdf_deletes", "stream_cdf_from_version",
    "cdc_ivm_join_view", "cdc_ivm_distinct_view", "stream_ivm_view_apply")

  val defs: Seq[Q] = rawDefs.map(q =>
    if (streamingRows(q.name))
      q.copy(fn = Streaming.withStreamStatePartitions(q.fn))
    else q)

  private def rawDefs: Seq[Q] = Seq(
    Q(
      "scan_avro_roundtrip",
      // Avro wire-format roundtrip (round-11): the r10 verdict recorded
      // Avro as impossible offline because the spark-avro CONNECTOR jar
      // is absent — but the avro-java core library ships with Spark
      // (avro-1.12.1.jar), which is all a Spark-first implementation
      // needs. Write side: each partition lands ONE Avro object-container
      // file via GenericDatumWriter inside foreachPartition (deterministic
      // part-p<pid>.avro names, executor-side, no driver data movement —
      // the TarShard/SpjStage posture). Read side: `binaryFile` scans the
      // containers and a mapPartitions leg decodes them with
      // DataFileReader — whole-file blobs are exactly how Avro containers
      // arrive from a Kafka-archive or Sqoop-era feed, and the decode is
      // an iterator→iterator pass with constant memory. Identity oracle
      // certifies losslessness (the scan_orc_roundtrip pattern). At
      // 100 TB: one container per task both ways, codec = deflate
      // (in-core), no single-machine choke point.
      (s, dir) => {
        val root = tmpDir("graft_avro_")
        val avroSchemaJson =
          """{"type":"record","name":"Order","fields":[
            |{"name":"o_orderkey","type":"long"},
            |{"name":"o_totalprice","type":"double"},
            |{"name":"o_orderpriority","type":"string"}]}""".stripMargin
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .repartition(4, col("o_orderkey"))
          .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
            val pid = org.apache.spark.TaskContext.get().partitionId()
            // schema parsed INSIDE the task: avro Schema serializability
            // is version-dependent; the JSON string is the stable carrier
            val schema = new org.apache.avro.Schema.Parser().parse(avroSchemaJson)
            val w = new org.apache.avro.file.DataFileWriter(
              new org.apache.avro.generic.GenericDatumWriter[
                org.apache.avro.generic.GenericRecord](schema))
            w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
            w.create(schema, new java.io.File(s"$root/part-p$pid.avro"))
            rows.foreach { r =>
              val rec = new org.apache.avro.generic.GenericData.Record(schema)
              rec.put("o_orderkey", r.getLong(0))
              rec.put("o_totalprice", r.getDouble(1))
              rec.put("o_orderpriority", r.getString(2))
              w.append(rec)
            }
            w.close()
          }
        val st = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType),
          StructField("o_orderpriority", StringType)))
        val enc = org.apache.spark.sql.Encoders.row(st)
        s.read.format("binaryFile").load(s"$root/*.avro")
          .select(col("content"))
          .mapPartitions { files =>
            files.flatMap { f =>
              val in = new org.apache.avro.file.SeekableByteArrayInput(
                f.getAs[Array[Byte]](0))
              val rdr = new org.apache.avro.file.DataFileReader(
                in, new org.apache.avro.generic.GenericDatumReader[
                  org.apache.avro.generic.GenericRecord]())
              new Iterator[org.apache.spark.sql.Row] {
                def hasNext: Boolean = { val h = rdr.hasNext; if (!h) rdr.close(); h }
                def next(): org.apache.spark.sql.Row = {
                  val rec = rdr.next()
                  org.apache.spark.sql.Row(
                    rec.get("o_orderkey").asInstanceOf[Long],
                    rec.get("o_totalprice").asInstanceOf[Double],
                    rec.get("o_orderpriority").toString)
                }
              }
            }
          }(enc)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_parquet_codecs",
      // Codec-transparent landing (round-11): the same slice written
      // under snappy (the splittable default), zstd (the cold-storage
      // ratio winner) and gzip (the legacy interchange codec), each read
      // back and censused — content must be codec-invariant, which is
      // the property that lets a 100 TB landing zone mix codecs per
      // lifecycle tier (hot=snappy, archive=zstd) without any reader
      // change: parquet carries the codec per column chunk, so a scan
      // over mixed-codec files just works. Compression happens inside
      // the parquet writer per row group — no extra pass, no shuffle.
      (s, dir) => {
        val root = graft.util.tempDir("graft_codecs_")
        val src = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        val codecs = Seq("snappy", "zstd", "gzip")
        codecs.foreach(c =>
          src.write.mode("overwrite").option("compression", c)
            .parquet(s"$root/$c"))
        codecs.map(c =>
            s.read.parquet(s"$root/$c").withColumn("codec", lit(c)))
          .reduce(_ unionByName _)
          .groupBy(col("codec"))
          .agg(count(lit(1)).as("n"),
            sum(col("s_suppkey")).as("key_sum"),
            util.r2(sum(col("s_acctbal"))).as("bal_sum"))
          .orderBy(col("codec"))
      },
      Some(s"""SELECT c.codec, CAST(count(*) AS BIGINT) AS n,
              |       CAST(sum(s_suppkey) AS BIGINT) AS key_sum,
              |       ${util.r2sql("sum(s_acctbal)")} AS bal_sum
              |FROM supplier, (SELECT unnest(['gzip','snappy','zstd']) AS codec) c
              |GROUP BY c.codec ORDER BY c.codec""".stripMargin)
    ),
    Q(
      "scan_csv_schema",
      // TSV wire format, declared schema (no inference pass — at 100 TB a
      // schema-inference pre-read of every object is a full extra scan).
      (s, dir) => {
        val tmp = tmpDir("graft_tsv_")
        Tables(s, dir, "nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .coalesce(1)
          // gzip: the DAP wire delivers gzip-compressed objects [DAP]
          .write.mode("overwrite").option("delimiter", "\t")
          .option("compression", "gzip").csv(tmp)
        val schema = StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))
        s.read.schema(schema).option("delimiter", "\t").csv(tmp)
          .orderBy(col("n_nationkey"))
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")
    ),
    Q(
      "scan_jsonl_envelope",
      // The DAP record envelope {key, value, meta} (SURVEY.md §1.1 [DAP]):
      // serialize orders into envelope JSONL, read back with the declared
      // envelope StructType, flatten to columns.
      (s, dir) => {
        val tmp = tmpDir("graft_jsonl_")
        Tables(s, dir, "orders")
          .select(to_json(struct(
            struct(col("o_orderkey")).as("key"),
            struct(col("o_orderstatus"), col("o_totalprice")).as("value"),
            struct(lit("U").as("action")).as("meta"))).as("line"))
          .coalesce(1)
          .write.mode("overwrite").text(tmp)
        val envelope = StructType(Seq(
          StructField("key", StructType(Seq(StructField("o_orderkey", LongType)))),
          StructField("value", StructType(Seq(
            StructField("o_orderstatus", StringType),
            StructField("o_totalprice", DoubleType)))),
          StructField("meta", StructType(Seq(StructField("action", StringType))))))
        s.read.schema(envelope).json(tmp)
          .select(col("key.o_orderkey"), col("value.o_orderstatus"),
            col("value.o_totalprice"), col("meta.action"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice, 'U' AS action
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "filter_dynamic_partition_pruning",
      // Dynamic partition pruning: the fact side is partitioned on the join
      // key (o_orderpriority); the dim side is filtered on a DIFFERENT
      // column (o_orderstatus = 'P'), so the surviving join keys are only
      // known at run time — Catalyst injects a dynamicpruning subquery into
      // the fact scan instead of reading every partition. (A filter on the
      // join key itself would constant-propagate into a static partition
      // filter — no DPP needed.) At 100 TB the partitioned table reads ONLY
      // the partitions the filtered dim selects; PlanShapeSpec asserts the
      // pruning expression is present.
      (s, dir) => {
        val tmp = tmpDir("graft_dpp_")
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
        val dim = Tables(s, dir, "orders")
          .select(col("o_orderpriority"), col("o_orderstatus")).distinct()
          .filter(col("o_orderstatus") === "P")
        s.read.parquet(tmp)
          .join(broadcast(dim), Seq("o_orderpriority"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            util.r2(sum(col("o_totalprice"))).as("total"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n,
              |       ${util.r2sql("sum(o_totalprice)")} AS total
              |FROM (
              |  SELECT f.o_orderpriority, f.o_totalprice
              |  FROM orders f
              |  JOIN (SELECT DISTINCT o_orderpriority, o_orderstatus
              |        FROM orders WHERE o_orderstatus = 'P') d
              |    ON f.o_orderpriority = d.o_orderpriority) t
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "scan_csv_malformed",
      // Dirty-feed handling: every 10th CSV line carries an unparsable
      // numeric field; DROPMALFORMED mode sheds exactly those rows instead
      // of failing the batch — the row-level quarantine posture a landing
      // zone needs (one bad record must never kill a 100 TB load). The
      // oracle selects the complement of the corruption rule.
      (s, dir) => {
        val tmp = tmpDir("graft_badcsv_")
        Tables(s, dir, "orders")
          .select(concat(
            col("o_orderkey").cast("string"), lit(","),
            when(col("o_orderkey") % 10 === 0, lit("XX"))
              .otherwise(col("o_totalprice").cast("string"))).as("line"))
          .coalesce(1)
          .write.mode("overwrite").text(tmp)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType)))
        s.read.schema(schema).option("mode", "DROPMALFORMED").csv(tmp)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey % 10 <> 0
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "source_custom_calendar",
      // DataSource V2 TableProvider (graft.sources.CalendarSource): a
      // partitioned calendar-dimension GENERATOR — no files, the table is
      // a pure function of its options, synthesized in parallel partition
      // readers. Attributes derive via ordinary codegen'd projections on
      // the emitted date. The portable dow basis is ISO (Mon=1): Spark
      // weekday() is 0=Mon, DuckDB isodow() is 1=Mon.
      (s, dir) => {
        s.read.format("graft.sources.CalendarSource")
          .option("start", "2024-01-01").option("end", "2024-12-31")
          .load()
          .select(col("d").as("cal_date"),
            year(col("d")).cast("long").as("y"),
            quarter(col("d")).cast("long").as("q"),
            month(col("d")).cast("long").as("m"),
            dayofmonth(col("d")).cast("long").as("dom"),
            (weekday(col("d")) + 1).cast("long").as("iso_dow"),
            (weekday(col("d")) >= 5).as("is_weekend"))
          .orderBy(col("cal_date"))
      },
      Some("""SELECT CAST(g AS DATE) AS cal_date,
             |       CAST(year(g) AS BIGINT) AS y,
             |       CAST(quarter(g) AS BIGINT) AS q,
             |       CAST(month(g) AS BIGINT) AS m,
             |       CAST(day(g) AS BIGINT) AS dom,
             |       CAST(isodow(g) AS BIGINT) AS iso_dow,
             |       (isodow(g) >= 6) AS is_weekend
             |FROM (SELECT unnest(generate_series(
             |        DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY)) AS g)
             |ORDER BY cal_date""".stripMargin)
    ),
    Q(
      "scan_json_rescue",
      // PERMISSIVE + corrupt-record capture — the rescue-column posture:
      // a malformed JSON record must not be dropped silently (DROPMALFORMED)
      // or kill the load (FAILFAST); it lands with typed fields null and
      // the raw line preserved for quarantine/replay. Every 10th line is
      // corrupted deterministically; the oracle reconstructs both the
      // parsed rows and the expected raw rescue text.
      (s, dir) => {
        val tmp = tmpDir("graft_badjson_")
        Tables(s, dir, "orders")
          .select(concat(
            lit("{\"k\":"), col("o_orderkey").cast("string"),
            lit(",\"qty\":"),
            when(col("o_orderkey") % 10 === 0, lit("XX"))
              .otherwise((col("o_orderkey") % 7).cast("string")),
            lit("}")).as("line"))
          .coalesce(1)
          .write.mode("overwrite").text(tmp)
        val schema = StructType(Seq(
          StructField("k", LongType),
          StructField("qty", LongType),
          StructField("_rescued", StringType)))
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_rescued")
          .json(tmp)
          .orderBy(col("k").asc_nulls_first, col("_rescued").asc_nulls_first)
      },
      Some("""SELECT CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderkey END AS k,
             |       CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderkey % 7 END AS qty,
             |       CASE WHEN o_orderkey % 10 = 0
             |            THEN '{"k":' || CAST(o_orderkey AS VARCHAR) || ',"qty":XX}' END AS _rescued
             |FROM orders
             |ORDER BY k ASC NULLS FIRST, _rescued ASC NULLS FIRST""".stripMargin)
    ),
    Q(
      "scan_orc_roundtrip",
      // ORC interchange (the other columnar wire format Spark ships
      // natively): write a projection as ORC, read it back with the file's
      // embedded schema. Identity oracle on the source table — the
      // round trip must be lossless including nulls and doubles.
      (s, dir) => {
        val tmp = tmpDir("graft_orc_")
        Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "scan_xml_roundtrip",
      // Spark 4's NATIVE XML file source (the spark-xml package folded
      // into core): write a projection as row-tagged XML, read it back
      // with an explicit schema — the enterprise-feed wire format
      // fn_xml_extract parses per-row, here as a whole source. Monetary
      // values travel as exact BIGINT cents (XML is a text format; never
      // round-trip raw doubles through text in a pipeline). Identity
      // oracle on the source projection.
      (s, dir) => {
        val tmp = tmpDir("graft_xmlsrc_")
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
          .write.mode("overwrite").format("xml").option("rowTag", "order")
          .save(tmp)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("cents", LongType)))
        s.read.schema(schema).format("xml").option("rowTag", "order")
          .load(tmp).orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "scan_csv_multiline",
      // Quoted MULTILINE CSV (round-9): fields containing embedded
      // newlines and quote characters — the classic CSV-parsing trap
      // (a naive line-splitter shreds these rows; the reader must honor
      // quoting across line boundaries, which costs whole-file parsing:
      // `multiLine` disables record-level splitting). A synthetic column
      // with \n and " baked in round-trips write→read; the oracle
      // recomputes the same derived column from the source, so any
      // quoting/escaping asymmetry hash-fails.
      (s, dir) => {
        val tmp = tmpDir("graft_csvml_")
        val derived = Tables(s, dir, "documents")
          .select(col("doc_id"),
            concat(substring(col("text"), 1, 20), lit("\n"), col("lang"),
              lit("\""), col("source")).as("gnarly"))
        derived.write.mode("overwrite").option("header", "true").csv(tmp)
        val schema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("gnarly", StringType)))
        s.read.schema(schema)
          .option("header", "true").option("multiLine", "true")
          .csv(tmp)
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       substring(text, 1, 20) || chr(10) || lang || '"' || source AS gnarly
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "scan_json_array_file",
      // Single-file TOP-LEVEL JSON ARRAY (round-9): the API-dump shape —
      // one file, one big `[{...}, {...}]` — which line-oriented JSONL
      // readers cannot touch; `multiLine` parses the whole document and
      // explodes the array into rows. The file is staged from the nation
      // fixture (driver-side write is fixture STAGING, clearly not the
      // query path); the oracle reads the original table, so the parse
      // must recover every row and type exactly.
      (s, dir) => {
        val tmp = tmpDir("graft_jsonarr_")
        val rows = graft.Catalog.sql(s, dir,
          """SELECT to_json(named_struct(
            |  'n_nationkey', n_nationkey, 'n_name', n_name,
            |  'n_regionkey', n_regionkey)) AS j
            |FROM nation ORDER BY n_nationkey""".stripMargin)
          .collect().map(_.getString(0))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(tmp, "nations.json"),
          rows.mkString("[\n", ",\n", "\n]").getBytes("UTF-8"))
        val schema = StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))
        s.read.schema(schema).option("multiLine", "true")
          .json(s"$tmp/nations.json")
          .orderBy(col("n_nationkey"))
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)
    ),
    Q(
      "sink_csv_roundtrip",
      // CSV export/import fidelity: write with header, read back with an
      // explicit schema (never inference in a pipeline — a schema drift
      // must fail loudly, not silently retype a column). Doubles survive
      // because Spark writes the shortest round-trippable representation.
      // Identity oracle on the source projection.
      (s, dir) => {
        val tmp = tmpDir("graft_csvsink_")
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderdate").cast("date").as("o_orderdate"), col("o_totalprice"))
          .write.mode("overwrite").option("header", "true").csv(tmp)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_orderstatus", StringType),
          StructField("o_orderdate", DateType),
          StructField("o_totalprice", DoubleType)))
        s.read.schema(schema).option("header", "true").csv(tmp)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "scan_text_lines",
      // Plain text-line source/sink — the rawest ingest format (one
      // string column, one row per line): stage documents as
      // "doc_id<TAB>text" lines through the text SINK, read back through
      // the text SOURCE, re-split on the first tab. The fixture's text
      // carries no newlines/tabs, so the roundtrip is an identity the
      // oracle checks against the parquet original. At scale this is the
      // log-file / WET-dump ingestion path: splittable, schema applied at
      // parse time, malformed lines visible rather than silently typed.
      (s, dir) => {
        val tmp = tmpDir("graft_textsrc_")
        Tables(s, dir, "documents")
          .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(
            split(col("value"), "\t", 2).getItem(0).cast("long").as("doc_id"),
            split(col("value"), "\t", 2).getItem(1).as("text"))
          .orderBy(col("doc_id"))
      },
      Some("SELECT doc_id, text FROM documents ORDER BY doc_id")
    ),
    Q(
      "scan_binary_files",
      // Whole-file binary source — the multimodal ingest path: stage each
      // document's bytes as its own .bin file, read the directory back
      // with format("binaryFile") (path, modificationTime, length,
      // content), and emit per-file length + sha256(content). The
      // wall-clock modificationTime column is deliberately excluded
      // (determinism contract); the oracle recomputes name/length/digest
      // from the parquet original. At 100 TB this is the image/audio blob
      // pattern: content stays opaque binary, metadata is typed columns.
      (s, dir) => {
        val tmp = tmpDir("graft_binsrc_")
        // test-fixture STAGING (not a query path): materialize the small
        // documents table to plant one .bin file per row — in production
        // the files already exist; the operator under test is the read
        val stage = Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")).collect()
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        stage.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(tmp, f"doc_${r.getLong(0)}%06d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        s.read.format("binaryFile").load(tmp)
          .select(
            element_at(split(col("path"), "/"), -1).as("file_name"),
            col("length"),
            sha2(col("content"), 256).as("content_sha"))
          .orderBy(col("file_name"))
      },
      Some("""SELECT printf('doc_%06d.bin', doc_id) AS file_name,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS length,
             |       sha256(text) AS content_sha
             |FROM documents ORDER BY file_name""".stripMargin)
    ),
    Q(
      "sink_json_roundtrip",
      // JSON-lines export/import fidelity (the interchange format of the
      // reference's envelope feeds): same explicit-schema read-back
      // discipline, identity oracle.
      (s, dir) => {
        val tmp = tmpDir("graft_jsonsink_")
        Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .write.mode("overwrite").json(tmp)
        val schema = StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_acctbal", DoubleType)))
        s.read.schema(schema).json(tmp).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "sink_parquet_partitioned",
      // Partitioned landing layout (SURVEY.md §2.1 [CD2-AWS]): write
      // partitionBy, read back, count per partition — partition pruning on
      // the read-back path is what makes the layout pay off at scale.
      (s, dir) => {
        val tmp = tmpDir("graft_part_")
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
          .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),
    Q(
      "scan_parquet_merge_schema",
      // Schema-merging multi-file scan (round-9): two parquet generations
      // with DIFFERENT column sets (an early writer emitted text_len, a
      // later one source) read as ONE table via mergeSchema — absent
      // columns null-fill per file. This is the scan-level half of schema
      // evolution (the CDC rows cover table-level): at 100 TB a partition
      // root accretes years of writer versions and the footer-merge
      // happens driver-side over file metadata only, never data. Oracle
      // states the union-by-name semantics directly over the source rows.
      (s, dir) => {
        val tmp = tmpDir("graft_merge_")
        val d = Tables(s, dir, "documents")
        d.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), length(col("text")).as("text_len"))
          .write.mode("overwrite").parquet(s"$tmp/gen1")
        d.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("source"))
          .write.mode("overwrite").parquet(s"$tmp/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/gen1", s"$tmp/gen2")
          .groupBy(coalesce(col("source"), lit("none")).as("source"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("text_len")).cast("long").as("sum_len"),
            count(col("text_len")).as("n_len"))
          .orderBy(col("source"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, length(text) AS text_len,
             |         CAST(NULL AS VARCHAR) AS source
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT doc_id, CAST(NULL AS BIGINT), source
             |  FROM documents WHERE doc_id % 2 = 1)
             |SELECT coalesce(source, 'none') AS source,
             |       CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(text_len) AS BIGINT) AS sum_len,
             |       CAST(count(text_len) AS BIGINT) AS n_len
             |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "scan_csv_charset_latin1",
      // Non-UTF-8 charset roundtrip (round-9): land accented labels as
      // ISO-8859-1 (latin-1) CSV and read them back with the encoding
      // option — the legacy-feed reality every warehouse ingests (a
      // UTF-8-assuming read of latin-1 turns 'é' into mojibake, which is
      // exactly what the hash oracle would catch: the é here is a
      // single 0xE9 byte on disk, two bytes in UTF-8). Schema-first read
      // as always; oracle recomputes the labels engine-side, no file
      // dependence.
      (s, dir) => {
        val tmp = tmpDir("graft_latin1_")
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            concat(lit("café nr "), (col("doc_id") % 10).cast("string"))
              .as("label"))
          .write.mode("overwrite").option("encoding", "ISO-8859-1")
          .option("header", "true").csv(s"$tmp/t")
        s.read.option("encoding", "ISO-8859-1").option("header", "true")
          .schema("doc_id BIGINT, label STRING")
          .csv(s"$tmp/t")
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
          .orderBy(col("label"))
      },
      Some("""SELECT 'café nr ' || CAST(doc_id % 10 AS VARCHAR) AS label,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "scan_csv_gzip",
      // Compressed wire files (round-10): gzip CSV is the dominant
      // flat-file delivery format (the DAP feeds ship compressed) —
      // written with codec=gzip, read back schema-first with the codec
      // inferred from the .gz extension. The operational caveat this row
      // documents: gzip is NOT splittable, so at scale one .gz file = one
      // read task — delivery should arrive as MANY files (here one per
      // write task), which is exactly what makes the format parallel
      // again. Oracle recomputes from the source table, no file
      // dependence.
      (s, dir) => {
        val tmp = tmpDir("graft_gz_")
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderpriority").as("pri"))
          .repartition(4)
          .write.mode("overwrite").option("codec", "gzip")
          .option("header", "true").csv(s"$tmp/t")
        s.read.option("header", "true")
          .schema("o_orderkey BIGINT, o_custkey BIGINT, pri STRING")
          .csv(s"$tmp/t")
          .groupBy(col("pri"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"),
            max(col("o_custkey")).as("max_cust"))
          .orderBy(col("pri"))
      },
      Some("""SELECT o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
             |       max(o_custkey) AS max_cust
             |FROM orders GROUP BY pri ORDER BY pri""".stripMargin)
    ),
    Q(
      "scan_parquet_nested_filter",
      // Nested-field predicate pushdown (round-9): land orders as a
      // struct column, filter on a field INSIDE the struct, and let the
      // predicate reach the parquet reader (Spark's
      // nestedPredicatePushdown is on by default for parquet) — the
      // row-group-skipping that makes struct-shaped lakehouse tables
      // scannable at 100 TB; without it every nested read is a full
      // scan + post-filter. PlanShape-style assertion lives in
      // Round9TailSpec (PushedFilters names the nested path); the
      // oracle states the value semantics over the flat original.
      (s, dir) => {
        val tmp = tmpDir("graft_nested_")
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), struct(
            col("o_orderstatus").as("status"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("price_c"))
            .as("info"))
          .write.mode("overwrite").parquet(s"$tmp/t")
        s.read.parquet(s"$tmp/t")
          .filter(col("info.status") === "F" && col("info.price_c") > 10000000L)
          .groupBy(col("info.status").as("status"))
          .agg(count(lit(1)).as("n"), sum(col("info.price_c")).as("sum_c"))
          .orderBy(col("status"))
      },
      Some("""SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c
             |FROM orders
             |WHERE o_orderstatus = 'F'
             |  AND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > 10000000
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "sink_variant_roundtrip",
      // Spark 4 VARIANT through parquet (round-9): parse the untyped
      // props blob once into the binary-encoded Variant type, land it in
      // parquet, read it back, and extract typed fields with
      // variant_get — the open-table-format answer to "schema-on-read
      // without string re-parsing" (Variant decode is O(field) on the
      // encoded form, not a JSON re-parse per access). The roundtrip is
      // lossless, so the oracle states the same aggregate over the
      // original JSON; storage is columnar binary + metadata, scanned
      // like any other column at 100 TB.
      (s, dir) => {
        val tmp = tmpDir("graft_variant_")
        Tables.events(s, dir)
          .filter(col("props").isNotNull)
          .select(col("event_id"), expr("parse_json(props)").as("v"))
          .write.mode("overwrite").parquet(s"$tmp/t")
        s.read.parquet(s"$tmp/t")
          .select(expr("variant_get(v, '$.k', 'bigint')").as("k_val"))
          .groupBy(col("k_val"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("k_val"))
      },
      Some("""SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k_val,
             |       CAST(count(*) AS BIGINT) AS n_events
             |FROM events WHERE props IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "scan_json_variant",
      // Variant as the SCAN-side semi-structured contract (round-12,
      // verdict #4): where fn_json_variant parses inline and
      // sink_variant_roundtrip proves losslessness, this row exercises
      // the read pattern that matters at 100 TB — parse each payload
      // ONCE at land time into the binary Variant encoding, then a
      // downstream query extracts FOUR typed fields from the landed
      // column. Against a JSON-string column the same query re-parses
      // the blob once PER FIELD PER ROW (4 GetJsonObject nodes, each a
      // full Jackson parse); against Variant each access is an O(field)
      // offset lookup into the already-encoded bytes and the scan plan
      // contains no JSON parser at all (PlanShapeSpec pins both plan
      // shapes; EXPLAINS.md records the measured gap). The enriched
      // payload is synthesized from events columns so the extraction has
      // real breadth; integer-quantized cents dodge float→JSON→float
      // roundtrip hazards on both engines.
      (s, dir) => {
        val tmp = tmpDir("graft_scanvar_")
        Tables.events(s, dir)
          .select(col("event_id"), expr(
            """parse_json(to_json(named_struct(
              |  'k', cast(get_json_object(props, '$.k') as bigint),
              |  'et', event_type,
              |  'vc', cast(floor(value * 100 + 0.5) as bigint),
              |  'uid', user_id)))""".stripMargin).as("v"))
          .write.mode("overwrite").parquet(s"$tmp/t")
        s.read.parquet(s"$tmp/t")
          .select(col("event_id"),
            expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
            expr("variant_get(v, '$.et', 'string')").as("et"),
            expr("variant_get(v, '$.vc', 'bigint')").as("vc"),
            expr("variant_get(v, '$.uid', 'bigint')").as("uid"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             |       event_type AS et,
             |       CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc,
             |       user_id AS uid
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    Q(
      "scan_variant_shredded",
      // Variant SHREDDING (round-12) — the storage half of the variant
      // story: with writeShredding + inferShreddingSchema the parquet
      // writer decomposes each variant into real typed leaf columns
      // (`typed_value` groups: k int64, et string, uid int64 — pinned on
      // the footer by VariantShredSpec), and with pushVariantIntoScan the
      // optimizer rewrites typed `variant_get`s into STRUCT FIELD reads
      // pushed into the scan — ReadSchema prunes to exactly the accessed
      // fields (`struct<0:bigint,…>`), no variant decode anywhere in the
      // plan. Where scan_json_variant proves "parse once, extract from
      // the encoded form", this row proves "shred once, never even
      // decode": at 100 TB the two compose into columnar economics for
      // semi-structured payloads — min/max stats, dictionary encoding and
      // column pruning all apply to fields inside what the writer was
      // handed as opaque JSON. Values are ints/strings so the
      // shred-reassemble roundtrip is bit-exact against the oracle's
      // direct relational replay.
      (s, dir) => {
        val tmp = tmpDir("graft_shred_")
        withConfs(s, variantShredConfs) {
          Tables.events(s, dir)
            .select(col("event_id"), expr(
              """parse_json(to_json(named_struct(
                |  'k', cast(get_json_object(props, '$.k') as bigint),
                |  'et', event_type,
                |  'uid', user_id)))""".stripMargin).as("v"))
            .write.mode("overwrite").parquet(s"$tmp/t")
        }
        s.read.parquet(s"$tmp/t")
          .select(col("event_id"),
            expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
            expr("variant_get(v, '$.et', 'string')").as("et"),
            expr("variant_get(v, '$.uid', 'bigint')").as("uid"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id,
             |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             |       event_type AS et, user_id AS uid
             |FROM events ORDER BY event_id""".stripMargin)
    ),
    Q(
      "sink_overwrite_snapshot",
      // Snapshot replace semantics (`dap initdb` re-init): overwrite twice,
      // read back — idempotent, so the oracle is the identity on orders.
      (s, dir) => {
        val tmp = tmpDir("graft_snap_")
        val o = Tables(s, dir, "orders")
        o.write.mode("overwrite").parquet(s"$tmp/orders")
        o.write.mode("overwrite").parquet(s"$tmp/orders")
        s.read.parquet(s"$tmp/orders").orderBy(col("o_orderkey"))
      },
      Some("SELECT * FROM orders ORDER BY o_orderkey")
    ),
    Q(
      "sink_partition_overwrite_dynamic",
      // Partition-level rewrite — what makes the CDC merge
      // "partition-overwrite-capable" (SURVEY.md §7.4.4): land lineitem
      // partitioned by l_returnflag, then overwrite ONLY partition 'R'
      // (prices zeroed) with dynamic partitionOverwriteMode; partitions A/N
      // must survive untouched. At 100 TB this is the difference between
      // rewriting the partitions containing changed keys and rewriting the
      // table.
      (s, dir) => {
        val tmp = tmpDir("graft_dynpart_")
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_returnflag"))
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
        withConfs(s, Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic")) {
          li.filter(col("l_returnflag") === "R")
            .withColumn("l_extendedprice", lit(0.0))
            .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
        }
        s.read.parquet(tmp)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"), col("l_returnflag"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |       CASE WHEN l_returnflag = 'R' THEN 0.0 ELSE l_extendedprice END AS l_extendedprice,
             |       l_returnflag
             |FROM lineitem
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)
    ),
    Q(
      "project_nested_prune",
      // Nested-schema pruning: land documents with a nested meta struct,
      // read back ONLY meta.lang — the parquet scan must read the single
      // subfield, not the whole struct (PlanShapeSpec asserts the
      // ReadSchema). On a struct-heavy corpus (multimodal metadata
      // envelopes) this is the difference between scanning one column
      // chunk and the whole envelope.
      (s, dir) => {
        val tmp = tmpDir("graft_nested_")
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            struct(col("lang"), col("source"), col("n_chars"), col("text")).as("meta"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(col("meta.lang").as("lang"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, count(*) AS n_docs
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "scan_parquet_bloom_rowgroup",
      // Parquet bloom filters + clustered small row groups: land orders
      // sorted by o_custkey with a bloom filter on that column and a small
      // row-group size, then point-look-up a key set. Sorting makes
      // row-group min/max stats selective, and the bloom filter catches
      // what min/max cannot (a key inside the range but absent) — at
      // 100 TB this IO-level pruning is what turns a needle-in-haystack
      // scan into a handful of row-group reads, entirely below the plan
      // (same PushedFilters either way). SourcePropertySpec asserts the
      // written footers actually carry the bloom filters and multiple row
      // groups; correctness is the roundtripped point lookup. Dictionary
      // encoding is disabled for the key column because parquet-mr SKIPS
      // the bloom filter when a chunk stays fully dictionary-encoded (the
      // dictionary already serves as an exact membership index) — at real
      // scale a key column overflows the dictionary and lands on the
      // plain+bloom path this row exercises.
      (s, dir) => {
        val tmp = tmpDir("graft_bloom_")
        Tables(s, dir, "orders")
          .sort(col("o_custkey"))
          .write.mode("overwrite")
          .option("parquet.bloom.filter.enabled#o_custkey", "true")
          .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
          .option("parquet.enable.dictionary#o_custkey", "false")
          .option("parquet.block.size", (64 * 1024).toString)
          .parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("o_custkey").isin(7L, 421L, 1337L))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
             |FROM orders WHERE o_custkey IN (7, 421, 1337)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_compact_small_files",
      // Small-file compaction — the maintenance job every landing zone
      // needs: a fragmented table (64 shards here; think one file per
      // micro-batch per partition after a week of streaming) rewrites to a
      // handful of right-sized files. Content must survive byte-exact
      // (identity oracle); OperatorSpec asserts the file counts. At scale
      // the repartition count comes from target_size / avg_row_size, and
      // compaction runs per partition predicate, not whole-table.
      (s, dir) => {
        val frag = tmpDir("graft_frag_")
        val compact = tmpDir("graft_compact_")
        val src = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        src.repartition(64).write.mode("overwrite").parquet(frag)
        s.read.parquet(frag).repartition(2)
          .write.mode("overwrite").parquet(compact)
        s.read.parquet(compact).orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_compaction_plan",
      // Compaction PLANNING (round-9, companion to the rewrite above):
      // assign fragments to target-size output bins by sorted
      // cumulative-fill — bin = floor(cum_bytes_before / target) — the
      // deterministic analogue of Iceberg's binpack rewrite planning.
      // Fragment stats here derive from the data (one fragment per
      // (returnflag, linestatus, ship-month) cell, bytes ≈ rows × width)
      // exactly as a manifest's per-file row counts would supply them;
      // the plan itself is METADATA-ONLY — an ordered window over the
      // fragment list (thousands of rows at 100 TB, never data) — which
      // is why planning cost stays flat no matter how big the table is.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val target = 262144L // 256 KiB bins
        val frags = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            to_date(date_trunc("month", col("l_shipdate"))).as("ship_month"))
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("bytes", col("n_rows") * 64L)
        val w = Window.orderBy(col("l_returnflag"), col("l_linestatus"),
          col("ship_month")).rowsBetween(Window.unboundedPreceding, -1)
        frags
          .withColumn("cum_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
          .withColumn("bin", (col("cum_before") / target).cast("long"))
          .select(col("l_returnflag"), col("l_linestatus"), col("ship_month"),
            col("n_rows"), col("bytes"), col("bin"))
          .orderBy(col("l_returnflag"), col("l_linestatus"), col("ship_month"))
      },
      Some("""WITH frags AS (
             |  SELECT l_returnflag, l_linestatus,
             |         CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
             |         count(*) AS n_rows,
             |         CAST(count(*) * 64 AS BIGINT) AS bytes
             |  FROM lineitem GROUP BY 1, 2, 3)
             |SELECT l_returnflag, l_linestatus, ship_month, n_rows, bytes,
             |       CAST(CAST(coalesce(sum(bytes) OVER (ORDER BY l_returnflag, l_linestatus, ship_month
             |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 262144 AS BIGINT) AS bin
             |FROM frags
             |ORDER BY l_returnflag, l_linestatus, ship_month""".stripMargin)
    ),
    Q(
      "scan_metadata_row_index",
      // Hidden file-metadata columns: `_metadata.row_index` is the
      // physical position of each row inside its parquet file, exposed by
      // the scan without existing as a data column — the primitive under
      // row-level lineage, deletion vectors and sampling-by-position. The
      // fixture writes `documents` as ONE sorted file so the physical
      // order is the logical order and the oracle can recompute the index
      // as row_number()-1. At scale `_metadata` also carries
      // file_path/file_size per split — the same mechanism, pruned like
      // any other column when unused.
      (s, dir) => {
        val tmp = tmpDir("graft_rowidx_")
        Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
          .repartition(1).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .select(col("doc_id"), col("lang"),
            col("_metadata.row_index").as("row_idx"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang,
             |       row_number() OVER (ORDER BY doc_id) - 1 AS row_idx
             |FROM documents ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "sink_bucketed_join",
      // Bucketed layout → co-located join (SURVEY.md §4): both sides
      // written bucketBy(8, key); the join then requires NO Exchange on
      // either side (asserted in PlanShapeSpec). At 100 TB this is the
      // difference between shuffling two fact tables and shuffling
      // nothing.
      (s, dir) => {
        val db = "graft_buckets"
        // unique location per call: a stale warehouse dir from a previous
        // session (fresh metastore, surviving filesystem) would otherwise
        // fail CREATE with LOCATION_ALREADY_EXISTS
        val loc = tmpDir("graft_buckets_db_")
        s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
        // land only the join/agg columns — bucketed layout is a physical
        // design choice, and a narrow landed projection is part of it
        val o = Tables(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        val li = Tables(s, dir, "lineitem").select(col("l_orderkey"))
        // r17 (guide §2.5/§6): repartition(8, key) uses the SAME hash the
        // bucketing spec does (pmod(murmur3, 8)), so each of the 8 write
        // tasks holds exactly one bucket — the bucketed sort+write runs 8-
        // way parallel instead of one task sorting the whole table into 8
        // files, and the file-per-bucket layout is unchanged (PlanShapeSpec
        // still sees the exchange-free co-located join).
        o.repartition(8, col("o_orderkey"))
          .write.mode("overwrite").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").format("parquet").saveAsTable(s"$db.orders_b")
        li.repartition(8, col("l_orderkey"))
          .write.mode("overwrite").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").format("parquet").saveAsTable(s"$db.lineitem_b")
        s.table(s"$db.lineitem_b")
          .join(s.table(s"$db.orders_b"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_lines"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n_lines
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "sink_zorder_layout",
      // Multi-dimensional layout (SURVEY.md §4): orders landed sorted by a
      // Z-order (Morton) key over (o_custkey, days-since-1992) — the
      // data-layout technique beyond partitioning and bucketing that makes
      // min/max skipping effective for BOTH dimensions at once. A sort on
      // either raw column leaves file/row-group ranges for the other
      // dimension spanning the whole domain; a contiguous Z-range is a
      // small box in (custkey × date) space, so predicates on either
      // column prune files. Layout = repartitionByRange(zkey) +
      // sortWithinPartitions(zkey): a total order across files, one range
      // shuffle, no global single-partition sort. ZOrderLayoutSpec asserts
      // the per-file bounding boxes actually narrow vs an unsorted land;
      // the oracle verifies content + the exact interleave arithmetic
      // (10 bits per dimension → 20-bit key, pure BIGINT — no float).
      (s, dir) => {
        val tmp = tmpDir("graft_zorder_")
        zorderOrders(s, dir)
          .repartitionByRange(8, col("zkey"))
          .sortWithinPartitions(col("zkey"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .select(col("o_orderkey"), col("o_custkey"), col("day_idx"), col("zkey"))
          .orderBy(col("o_orderkey"))
      },
      Some(s"""WITH src AS (
              |  SELECT o_orderkey, o_custkey,
              |         CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS day_idx
              |  FROM orders),
              |b AS (
              |  SELECT min(o_custkey) AS cmin, max(o_custkey) AS cmax,
              |         min(day_idx) AS dmin, max(day_idx) AS dmax
              |  FROM src),
              |sc AS (
              |  SELECT o_orderkey, o_custkey, day_idx,
              |         ((o_custkey - cmin) * 1024) // (cmax - cmin + 1) AS cs,
              |         ((day_idx - dmin) * 1024) // (dmax - dmin + 1) AS ds
              |  FROM src CROSS JOIN b)
              |SELECT o_orderkey, o_custkey, day_idx,
              |       CAST(${zkeyDuck("cs", "ds", 10)} AS BIGINT) AS zkey
              |FROM sc ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_hilbert_layout",
      // Hilbert-curve layout (round-9): the locality-preserving sibling of
      // sink_zorder_layout over the same scaled (custkey × day) grid.
      // Hilbert's quadrant rotation guarantees consecutive keys are
      // ALWAYS edge-adjacent cells (HilbertLayoutSpec proves it
      // exhaustively), so a contiguous key range maps to one connected
      // box — no Z-seam diagonal jumps — which tightens per-file
      // bounding boxes at the same sort cost: one range shuffle +
      // in-partition sort, never a global single-partition sort. The
      // 10-level state-dependent transform runs as a shared CTE chain
      // (pure BIGINT CASE/bit-test arithmetic both engines parse
      // identically); the oracle replays key derivation AND content.
      (s, dir) => {
        // r17 (guide §1.2 per-task work + §2.5): the 10-level CTE chain
        // computed hkey as 10 chained CASE projections over the ONE-task
        // fixture scan — probed at 1.4 s warm, paid twice (the range
        // exchange's sampling pass + the write pass) ≈ the whole row.
        // Compute the key with the engine's native fused-loop
        // `hilbert_idx` expression instead — certified bit-identical to
        // the CTE chain by expr_hilbert_codegen's own oracle — over a
        // fanned-out scan, so both passes run wide and codegen'd. The
        // landed layout, columns, and the DuckDB oracle (the unrolled
        // chain) are unchanged; the hash gate proves equivalence.
        val keyed = scaledGrid(graft.util.fanout(Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"), dayIdx)))
          .select(col("o_orderkey"), col("o_custkey"), col("day_idx"),
            org.apache.spark.sql.functions.call_function(
              "hilbert_idx", col("cs"), col("ds")).as("hkey"))
        val tmp = tmpDir("graft_hilbert_")
        keyed.repartitionByRange(8, col("hkey"))
          .sortWithinPartitions(col("hkey"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .select(col("o_orderkey"), col("o_custkey"), col("day_idx"), col("hkey"))
          .orderBy(col("o_orderkey"))
      },
      Some(hilbertOrdersSql(
        "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)")
        + "\nORDER BY o_orderkey")
    ),
    Q(
      "expr_hilbert_codegen",
      // The native-codegen leg of the Hilbert tier (§2.12): the SAME
      // 10-level transform as sink_hilbert_layout, but computed by the
      // fused-loop Catalyst expression `hilbert_idx` (one Java loop per
      // row inside WholeStageCodegen) instead of 10 chained CASE
      // projections. The DuckDB oracle replays the unrolled CTE chain —
      // a native codegen path certified bit-for-bit against a pure-SQL
      // second implementation.
      (s, dir) => {
        scaledGrid(Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"), dayIdx))
          .select(col("o_orderkey"),
            org.apache.spark.sql.functions.call_function(
              "hilbert_idx", col("cs"), col("ds")).as("hkey"))
          .orderBy(col("o_orderkey"))
      },
      Some(hilbertOrdersSql(
        "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)")
        .replace("SELECT o_orderkey, o_custkey, day_idx, d AS hkey FROM hl9",
          "SELECT o_orderkey, d AS hkey FROM hl9")
        + "\nORDER BY o_orderkey")
    ),
    Q(
      "scan_csv_multiline_quoted",
      // CSV with embedded newlines inside quoted fields (round-9) — the
      // ingestion dialect that breaks line-based splitters: a quoted
      // record spans physical lines, so the reader must parse quotes
      // BEFORE splitting (Spark `multiLine=true`; the file can no longer
      // be byte-range split, which is exactly why production feeds
      // ship it gzip-per-shard — noted, and why the roundtrip pins the
      // semantics). A two-line note column is synthesized, landed, and
      // re-read; the oracle rebuilds the same strings from the fixture.
      (s, dir) => {
        val tmp = tmpDir("graft_mlcsv_")
        Tables(s, dir, "customer")
          .select(col("c_custkey"),
            concat(col("c_name"), lit("\n"), col("c_mktsegment")).as("note"),
            col("c_acctbal"))
          .coalesce(1)
          .write.mode("overwrite").option("quoteAll", "true").csv(tmp)
        val schema = StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("note", StringType),
          StructField("c_acctbal", DoubleType)))
        s.read.schema(schema)
          .option("multiLine", "true").csv(tmp)
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey,
             |       c_name || chr(10) || c_mktsegment AS note,
             |       c_acctbal
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "source_streaming_files",
      // The reference's poll-and-download loop as a file stream (SURVEY.md
      // §2.1 [DAP]): Structured Streaming over the landed directory with
      // Trigger.AvailableNow, counts by type, final state == batch oracle.
      (s, dir) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", LongType), // nanos-long wire layout (normalized)
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType),
          StructField("props", StringType)))
        // the file stream source requires a directory: stage the landed
        // object into one (the reference's download step does the same move)
        val stage = tmpDir("graft_stream_src_")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(Streaming.normalizedEventsFile(s, dir)),
          java.nio.file.Paths.get(s"$stage/events.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        val name = "stream_src_counts"
        val q = s.readStream.schema(schema)
          .parquet(stage)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .writeStream.outputMode("complete")
          .format("memory").queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(name).orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "scan_recursive_glob",
      // Data-lake directory discovery: a nested landing layout
      // (year/month subdirs plus a _scratch dir of non-data droppings)
      // read with recursiveFileLookup + pathGlobFilter — the listing
      // rules that decide what a 100 TB prefix scan even enumerates.
      // The glob excludes the scratch files at LISTING time (they are
      // never opened), and recursive lookup ignores partition-discovery
      // so the nested dirs are plain containers. Oracle: the landed
      // subset recomputed from source.
      (s, dir) => {
        val root = tmpDir("graft_lake_")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        o.filter(year(col("o_orderdate")) === 1995)
          .write.mode("overwrite").parquet(s"$root/y=1995/m=all")
        o.filter(year(col("o_orderdate")) === 1996)
          .write.mode("overwrite").parquet(s"$root/y=1996/m=all")
        // non-data droppings a real landing zone accumulates
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/_scratch"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/_scratch/notes.txt"),
          "not data".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$root/y=1995/m=all/readme.md"),
          "not data".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        s.read
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.parquet")
          .parquet(root)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderdate
             |FROM orders
             |WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "scan_csv_multichar_delim",
      // Multi-character delimiter CSV ("||") — the enterprise-feed dialect
      // single-char parsers can't read: values containing commas and tabs
      // pass through unquoted because the delimiter can't collide with
      // them. Landed and re-read with a declared schema, no inference.
      (s, dir) => {
        val tmp = tmpDir("graft_mcd_")
        Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
          .coalesce(1)
          .write.mode("overwrite").option("delimiter", "||").csv(tmp)
        val schema = StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType)))
        s.read.schema(schema).option("delimiter", "||").csv(tmp)
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
             |FROM supplier ORDER BY s_suppkey""".stripMargin)
    ),
    Q(
      "sink_stats_file_pruning",
      // Data skipping on the engine's own table format: every commit
      // publishes per-file (min, max) stats of the key column in the
      // manifest, and a filtered scan prunes whole files by interval
      // BEFORE reading a byte — Iceberg/Delta min-max skipping in
      // miniature, riding the same SupportsPushDownFilters seam parquet
      // uses. Four range-banded single-file commits, then a one-band
      // read: the plan touches 1 of 4 files (ManifestSinkSpec pins the
      // pruned counts; pruning can only SKIP — Spark re-evaluates every
      // filter on read — so results are provably unchanged). At 100 TB
      // this is the difference between a metadata lookup and a full scan
      // for every keyed query on a landed table.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val t = tmpDir("graft_skip_")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        // landing layout: 4 key bands, one file each (the scalar max is a
        // layout decision at write time, not a per-row collect)
        val maxk = o.agg(max(col("o_orderkey"))).head.getLong(0)
        val q1 = maxk / 4
        def land(lo: Long, hi: Long, mode: String): Unit =
          o.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
            .coalesce(1).write.format(fmt).option("path", t).mode(mode).save()
        land(Long.MinValue, q1, "overwrite")
        land(q1, 2 * q1, "append")
        land(2 * q1, 3 * q1, "append")
        land(3 * q1, Long.MaxValue, "append")
        s.read.format(fmt).option("path", t).load()
          .filter(col("o_orderkey") <= q1)
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_renameless_commit",
      // The S3-POSTURE commit on the real write path (round-12): with
      // `option("commitMode", "renameless")` the DSv2 write publishes via
      // conditional-put semantics — the version object itself is the
      // claim (exclusive CREATE of its final name + a self-validating
      // #commit footer), NO pointer file exists, and readers resolve
      // state by listing version objects and taking the highest
      // footer-valid one. This is the protocol that transfers to object
      // stores, where the default path's tmp + ATOMIC_MOVE does not (S3
      // has no rename): at 100 TB every landing table commits this way,
      // and a committer crash mid-upload leaves an invalid object that
      // readers skip and later committers reclaim, never a torn table.
      // Two appends through the mode, plain read back (the read path
      // falls back to list-and-validate when no pointer exists) — the
      // oracle is the identity, and ManifestSinkSpec races concurrent
      // DataFrame writers through the same mode.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val t = tmpDir("graft_rnls_")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        o.filter(col("o_orderkey") % 2 === 0)
          .write.format(fmt).option("path", t)
          .option("commitMode", "renameless").mode("append").save()
        o.filter(col("o_orderkey") % 2 === 1)
          .write.format(fmt).option("path", t)
          .option("commitMode", "renameless").mode("append").save()
        s.read.format(fmt).option("path", t).load()
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice, o_orderpriority
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_sync_point_read",
      // CROSS-TABLE ATOMIC SYNC POINT (r12 verdict #5) as an oracled
      // read: two rename-less tables are committed round-by-round; after
      // round 1 of BOTH, one catalog-level `sync.v1.json` object pins
      // (table → version) — then table A alone commits round 2,
      // simulating a reader arriving MID-SYNC of round 2. The consistent
      // read resolves the latest sync point and reads each table
      // `versionAsOf` its pin: it must see BOTH tables at round 1 —
      // never A@round2 + B@round1. The oracle IS the torn-freedom proof:
      // the expected rows are exactly round 1's key set, so a reader
      // that leaked A's round-2 commit hash-mismatches. ReplicaSoak
      // drives the same machinery under 50 tables × racing writers with
      // a concurrent reader (SCALE.md: 228 torn direct reads observed at
      // the same instants, 0 torn sync-point reads).
      // Scale: the sync object is O(tables), published once per round —
      // catalog-level metadata, invariant in data volume.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val t = tmpDir("graft_syncpt_")
        val cat = s"$t/_catalog"
        val dirs = Seq(s"$t/a", s"$t/b")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        def land(mod4: Int, path: String): Unit =
          o.filter(col("o_orderkey") % 4 === mod4)
            .write.format(fmt).option("path", path)
            .option("commitMode", "renameless").mode("append").save()
        land(0, dirs(0)); land(1, dirs(1)) // round 1 of both tables
        val pins = dirs.map(d => d ->
          graft.sources.ManifestSink.readStateRenameless(d).get._1).toMap
        graft.sources.ManifestSink.publishSyncPoint(cat, pins)
        land(2, dirs(0)) // table A's round 2 lands; NO sync point yet
        val (_, pinned) = graft.sources.ManifestSink.readSyncPoint(cat).get
        dirs.map { d =>
          s.read.format(fmt).option("path", d)
            .option("versionAsOf", pinned(d).toString).load()
        }.reduce(_ unionByName _).orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice
             |FROM orders WHERE o_orderkey % 4 IN (0, 1)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "cdc_sync_point_incremental",
      // The consistent MULTI-TABLE incremental pull (round-13) — the
      // replica-consumption shape the sync point exists for: a consumer
      // that last processed sync point S_a catches up to S_b by reading,
      // PER TABLE, the CDF range (pin@S_a, pin@S_b] — every table
      // advances by exactly one consistent cross-table round set, never
      // a mix. Fixture: two rename-less tables × three sync rounds;
      // consumer state = processed through S1; the pull reads each
      // table's batch change feed from its S1 pin +1 to its S3 pin and
      // must surface EXACTLY rounds 2–3 of both tables (the oracle's
      // key set is that and only that — an off-by-one on either pin
      // hash-mismatches). At 100 TB this is one O(changed files) plan
      // per table and one O(tables) sync-object read — the no-message-
      // bus catch-up path, now torn-free across tables.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val t = tmpDir("graft_syncinc_")
        val cat = s"$t/_catalog"
        val dirs = Map("a" -> s"$t/a", "b" -> s"$t/b")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        def land(tbl: String, round: Int): Unit =
          o.filter(col("o_orderkey") % 2 === (if (tbl == "a") 0 else 1) &&
              expr("(o_orderkey div 2) % 3") === round)
            .write.format(fmt).option("path", dirs(tbl))
            .option("commitMode", "renameless").mode("append").save()
        val syncs = (0 until 3).map { r =>
          Seq("a", "b").foreach(land(_, r))
          graft.sources.ManifestSink.publishSyncPoint(cat,
            dirs.values.map(d => d ->
              graft.sources.ManifestSink.readStateRenameless(d).get._1).toMap)
        }
        val (_, pinsA) = graft.sources.ManifestSink.readSyncPoint(
          cat, Some(syncs.head)).get
        val (_, pinsB) = graft.sources.ManifestSink.readSyncPoint(cat).get
        dirs.map { case (tbl, d) =>
          s.read.format(fmt).option("path", d)
            .option("changeFeed", "true")
            .option("startingVersion", (pinsA(d) + 1).toString)
            .option("endingVersion", pinsB(d).toString)
            .load()
            .select(lit(tbl).as("tbl"), col("o_orderkey"),
              col("o_totalprice"), col("_change_type"))
        }.reduce(_ unionByName _).orderBy(col("tbl"), col("o_orderkey"))
      },
      Some("""SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'a' ELSE 'b' END AS tbl,
             |       o_orderkey, o_totalprice, 'insert' AS _change_type
             |FROM orders WHERE (o_orderkey // 2) % 3 IN (1, 2)
             |ORDER BY tbl, o_orderkey""".stripMargin)
    ),
    Q(
      "sink_sync_point_as_of",
      // Sync-point TIME TRAVEL (round-13): `readSyncPoint(cat, Some(n))`
      // is the catalog-level analog of a table's versionAsOf — an audit
      // re-reads the replica EXACTLY as round n published it, all tables
      // consistently, even after later rounds landed. Fixture: two
      // rounds, two sync points; the read resolves S1 (not latest) and
      // must surface ONLY round 1's keys of both tables — the oracle's
      // key set proves no later commit leaks through the historical pin.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val t = tmpDir("graft_syncasof_")
        val cat = s"$t/_catalog"
        val dirs = Seq(s"$t/a", s"$t/b")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        def land(mod4: Int, path: String): Unit =
          o.filter(col("o_orderkey") % 4 === mod4)
            .write.format(fmt).option("path", path)
            .option("commitMode", "renameless").mode("append").save()
        (0 until 2).foreach { r =>
          land(r * 2, dirs(0)); land(r * 2 + 1, dirs(1)) // rounds r
          graft.sources.ManifestSink.publishSyncPoint(cat,
            dirs.map(d => d ->
              graft.sources.ManifestSink.readStateRenameless(d).get._1).toMap)
        }
        val (_, pinned) =
          graft.sources.ManifestSink.readSyncPoint(cat, Some(1)).get
        dirs.map { d =>
          s.read.format(fmt).option("path", d)
            .option("versionAsOf", pinned(d).toString).load()
        }.reduce(_ unionByName _).orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice
             |FROM orders WHERE o_orderkey % 4 IN (0, 1)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "sink_writer_fencing",
      // ZOMBIE-WRITER FENCING (round-12): every committer declares a
      // writer generation (`option("writerGeneration", n)`); the manifest
      // remembers the highest generation ever committed and a commit from
      // a LOWER one fails hard — its staged files are deleted, the table
      // is untouched. This is the missing third leg of the commit
      // protocol after atomic publish (visibility) and txnId
      // (idempotence): LIVENESS SAFETY. At 100 TB an orchestrator restart
      // bumps the generation; the old worker that wakes from a GC pause
      // or network partition minutes later can still hold a half-run
      // Spark job — without fencing its job commit would silently append
      // a stale batch behind the new owner's back (the dual-writer data
      // corruption every lakehouse postmortem features). The row stages
      // gen-1 and gen-2 appends, proves a third gen-1 commit is REJECTED
      // with the table unchanged, and reads back the two good halves —
      // identity oracle.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val t = tmpDir("graft_fence_")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        o.filter(col("o_orderkey") % 2 === 0)
          .write.format(fmt).option("path", t)
          .option("writerGeneration", "1").mode("append").save()
        o.filter(col("o_orderkey") % 2 === 1)
          .write.format(fmt).option("path", t)
          .option("writerGeneration", "2").mode("append").save()
        // the zombie: a generation-1 writer coming back after the handoff
        val fenced =
          try {
            o.limit(10).write.format(fmt).option("path", t)
              .option("writerGeneration", "1").mode("append").save()
            false
          } catch { case e: Throwable =>
            Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
              .exists(c => String.valueOf(c.getMessage).contains("fenced"))
          }
        require(fenced, "a stale-generation commit must be rejected")
        s.read.format(fmt).option("path", t).load()
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "stream_from_table_feed",
      // The manifest format as a STREAMING SOURCE: the snapshot log is
      // the change feed (offsets = manifest versions, a micro-batch
      // delivers the data files its snapshots appended) — the CDF pattern
      // that closes the loop: the engine's own tables are both the sink
      // of one pipeline and the source of the next, with exactly-once
      // hand-off riding on the commit protocol instead of a message bus.
      // Three append commits seed the feed; the streamed aggregate must
      // equal the batch recompute.
      (s, dir) => {
        val fmt = "graft.sources.ManifestSink"
        val tableDir = tmpDir("graft_feed_")
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        o.filter(col("o_orderkey") % 3 === 0)
          .write.format(fmt).option("path", tableDir).mode("overwrite").save()
        o.filter(col("o_orderkey") % 3 === 1)
          .write.format(fmt).option("path", tableDir).mode("append").save()
        o.filter(col("o_orderkey") % 3 === 2)
          .write.format(fmt).option("path", tableDir).mode("append").save()
        val name = "graft_feed_counts"
        val q = s.readStream.format(fmt).option("path", tableDir).load()
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            util.r2(sum(col("o_totalprice"))).as("total_price"))
          .writeStream.outputMode("complete")
          .format("memory").queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(name).orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n_orders,
              |       ${util.r2sql("sum(o_totalprice)")} AS total_price
              |FROM orders GROUP BY o_orderpriority
              |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "stream_table_cdf_deletes",
      // CHANGE-DATA-FEED streaming read with DELETES (round-11): the
      // append-only table feed (stream_from_table_feed) cannot represent
      // row removals; this row streams the manifest log in CDF mode
      // (`option("changeFeed")`) where each micro-batch delivers the
      // range's new data files as `insert` rows AND its new
      // equality-delete files as `delete` rows (key + NULLs — an
      // equality delete stores only row ids), tagged by a trailing
      // `_change_type` column — the Delta/Iceberg CDF contract. The
      // staging is end-to-end REAL: two INSERT commits plus a SQL
      // `DELETE FROM` through the SupportsDelta row-level path, then one
      // AvailableNow pass over the feed. At 100 TB this is how
      // downstream replicas consume upstream deletes without rescanning
      // the table: O(changed rows) per sync, with the offset log
      // providing exactly-once delivery.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.cdf")
        s.sql("""CREATE TABLE graft_cat.marts.cdf
                |(o_orderkey BIGINT NOT NULL, price DOUBLE, st STRING)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.cdf
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.cdf
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
        s.sql("DELETE FROM graft_cat.marts.cdf WHERE st = 'F'")
        val tableDir = s"${graft.util.catalogWarehouse}/marts/cdf"
        val name = "t_cdf_feed"
        val q = s.readStream.format("graft.sources.ManifestSink")
          .option("path", tableDir).option("changeFeed", "true").load()
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
          .writeStream.outputMode("complete").format("memory").queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name).orderBy(col("_change_type"))
      },
      Some("""SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderstatus = 'F'
             |UNION ALL
             |SELECT 'insert', CAST(count(*) AS BIGINT),
             |       CAST(sum(o_orderkey) AS BIGINT)
             |FROM orders
             |ORDER BY _change_type""".stripMargin)
    ),
    Q(
      "stream_cdf_from_version",
      // STREAM RESUME POINT (round-12): `option("startingVersion", v)` on
      // a streaming CDF read starts the feed at version v inclusive —
      // the missing handshake between the batch and streaming halves of
      // the change-data path: a consumer bootstraps its replica from a
      // batch CDF range [1, v−1] (cdc_cdf_apply_replica), then TAILS from
      // v with exactly-once continuity and never re-receives a bootstrap
      // row (Delta's startingVersion semantics; the option seeds only the
      // INITIAL offset — a checkpointed restart resumes from its own
      // offsets). Staged: CREATE(v1), two INSERTs (v2, v3), DELETE(v4);
      // the stream starts at v3 and must deliver exactly the second
      // insert's rows and the delete keys — the first insert provably
      // absent. At 100 TB this is what makes replica onboarding O(table)
      // ONCE and O(changes) forever after, with no overlap window to
      // dedup by hand.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.cdf_from")
        s.sql("""CREATE TABLE graft_cat.marts.cdf_from
                |(o_orderkey BIGINT NOT NULL, price DOUBLE, st STRING)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.cdf_from
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.cdf_from
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
        s.sql("DELETE FROM graft_cat.marts.cdf_from WHERE st = 'F'")
        val tableDir = s"${graft.util.catalogWarehouse}/marts/cdf_from"
        val name = "t_cdf_from_version"
        val q = s.readStream.format("graft.sources.ManifestSink")
          .option("path", tableDir).option("changeFeed", "true")
          .option("startingVersion", "3").load()
          .groupBy(col("_change_type"))
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
          .writeStream.outputMode("complete").format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name).orderBy(col("_change_type"))
      },
      Some("""SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderstatus = 'F'
             |UNION ALL
             |SELECT 'insert', CAST(count(*) AS BIGINT),
             |       CAST(sum(o_orderkey) AS BIGINT)
             |FROM orders WHERE o_orderkey % 2 = 1
             |ORDER BY _change_type""".stripMargin)
    ),
    Q(
      "scan_table_cdf_range",
      // BATCH change-data-feed range read (round-12, verdict #2): the
      // Delta `table_changes(tbl, v1, v2)` surface on the manifest
      // format. Where stream_table_cdf_deletes TAILS the log,
      // this row asks one BATCH question — "what changed in versions
      // [v1, v2]?" — and gets insert rows from the range's new data
      // files plus key-only delete rows from its equality-delete files,
      // tagged `_change_type`, schema resolved AT the range end (a later
      // evolution commit can't leak columns into an older range). The
      // staging commits five versions (CREATE, two INSERTs, a SQL
      // DELETE FROM through the SupportsDelta path, a third INSERT) and
      // reads [3, 4]: exactly the second INSERT + the delete — the
      // commit BEFORE the range and the commit AFTER it both provably
      // excluded. At 100 TB this is the reference's incremental pull as
      // a batch API: a consumer that was down for N versions catches up
      // with one O(changed rows) scan, no message bus, no full rescan —
      // and an out-of-range or expired boundary fails loudly instead of
      // silently under-delivering changes.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.cdf_range")
        // v1: CREATE (empty manifest — table existence IS the manifest)
        s.sql("""CREATE TABLE graft_cat.marts.cdf_range
                |(o_orderkey BIGINT NOT NULL, price DOUBLE, st STRING)""".stripMargin)
        // v2
        s.sql("""INSERT INTO graft_cat.marts.cdf_range
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin)
        // v3
        s.sql("""INSERT INTO graft_cat.marts.cdf_range
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 3 = 1""".stripMargin)
        // v4: equality-delete file over the rows landed so far (%3 ∈ {0,1})
        s.sql("DELETE FROM graft_cat.marts.cdf_range WHERE st = 'F'")
        // v5: OUTSIDE the requested range — must not appear
        s.sql("""INSERT INTO graft_cat.marts.cdf_range
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin)
        val tableDir = s"${graft.util.catalogWarehouse}/marts/cdf_range"
        s.read.format("graft.sources.ManifestSink")
          .option("path", tableDir)
          .option("changeFeed", "true")
          .option("startingVersion", "3").option("endingVersion", "4")
          .load()
          .select(col("o_orderkey"), col("price"), col("_change_type"))
          .orderBy(col("_change_type"), col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice AS price, 'insert' AS _change_type
             |FROM orders WHERE o_orderkey % 3 = 1
             |UNION ALL
             |SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete'
             |FROM orders
             |WHERE o_orderkey % 3 IN (0, 1) AND o_orderstatus = 'F'
             |ORDER BY _change_type, o_orderkey""".stripMargin)
    ),
    Q(
      "sink_rewrite_deletes",
      // Merge-on-read COMPACTION (round-12): equality-delete files make
      // MERGE/DELETE O(changes), but every subsequent read pays the
      // anti-join against them — at 100 TB a table that only ever
      // accumulates delete files reads slower every week. This row runs
      // the maintenance op that pays the debt down: read the current
      // state THROUGH the format (merge-on-read applied), rewrite it as
      // a fresh overwrite snapshot — data files now physically exclude
      // the deleted keys, the new snapshot carries ZERO delete files
      // (spec-pinned), and the pre-compaction snapshot stays time-travel
      // readable (rewrite adds history, never destroys it — Iceberg's
      // rewrite_position_delete_files / Delta's OPTIMIZE posture). The
      // oracle is the identity minus the deleted keys: compaction must
      // be invisible to every reader except the metadata.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.rw")
        s.sql("""CREATE TABLE graft_cat.marts.rw
                |(o_orderkey BIGINT NOT NULL, price DOUBLE, st STRING)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.rw
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders""".stripMargin)
        s.sql("DELETE FROM graft_cat.marts.rw WHERE st = 'F'")
        val tableDir = s"${graft.util.catalogWarehouse}/marts/rw"
        // the compaction: one read through the merge-on-read path, one
        // overwrite publish — O(live rows), a background maintenance job
        val live = s.read.format("graft.sources.ManifestSink")
          .option("path", tableDir).load()
        live.write.format("graft.sources.ManifestSink")
          .option("path", tableDir).mode("overwrite").save()
        val st = graft.sources.ManifestSink.readState(tableDir).get
        require(st.deletes.isEmpty,
          "compaction must clear the equality-delete set")
        s.read.format("graft.sources.ManifestSink")
          .option("path", tableDir).load()
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS st
             |FROM orders WHERE o_orderstatus <> 'F'
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "cdc_cdf_apply_replica",
      // The CDF CONSUMER loop (round-12): scan_table_cdf_range produces
      // the change feed; this row is the downstream that APPLIES it — the
      // reference's replica-maintenance inner loop as one registry row.
      // Bootstrap: batch CDF over the insert-only prefix [1, 3] seeds the
      // replica. Incremental: batch CDF over [4, 4] delivers key-only
      // delete rows, applied as an anti-join. The replica's final state
      // must equal the source's live state EXACTLY — which is the whole
      // point of a change feed: the consumer never rescans the source,
      // yet converges to it. At 100 TB each sync is O(changed rows) +
      // one replica merge; a consumer that was down for N versions
      // passes a wider range, same code path.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.cdf_src")
        s.sql("""CREATE TABLE graft_cat.marts.cdf_src
                |(o_orderkey BIGINT NOT NULL, price DOUBLE, st STRING)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.cdf_src
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.cdf_src
                |SELECT coalesce(o_orderkey, -1), o_totalprice, o_orderstatus
                |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
        s.sql("DELETE FROM graft_cat.marts.cdf_src WHERE st = 'F'")
        val srcDir = s"${graft.util.catalogWarehouse}/marts/cdf_src"
        val fmt = "graft.sources.ManifestSink"
        def cdf(lo: Int, hi: Int) = s.read.format(fmt)
          .option("path", srcDir).option("changeFeed", "true")
          .option("startingVersion", lo.toString)
          .option("endingVersion", hi.toString).load()
        // bootstrap from the insert-only prefix
        val replicaDir = tmpDir("graft_cdf_replica_")
        cdf(1, 3).filter(col("_change_type") === "insert")
          .select(col("o_orderkey"), col("price"), col("st"))
          .write.mode("overwrite").parquet(replicaDir)
        // incremental: apply the delete commit as an anti-join
        val dels = cdf(4, 4).filter(col("_change_type") === "delete")
          .select(col("o_orderkey"))
        s.read.parquet(replicaDir)
          .join(dels, Seq("o_orderkey"), "left_anti")
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS st
             |FROM orders WHERE o_orderstatus <> 'F'
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "cdc_ivm_join_view",
      // Incremental JOIN-view maintenance from CDF deltas (round-14,
      // verdict #3): the classic delta-join algebra — for a materialized
      // view V = A ⋈ B, after both bases advance,
      //   ΔV = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
      // over SIGNED multisets (insert = +1, delete = −1), so the view
      // converges to the end-state join WITHOUT recomputing A ⋈ B.
      // Deltas come from both tables' batch CDF ranges; an equality
      // delete arrives key-only, so its full pre-image is resolved by
      // joining the delete keys against (old snapshot ∪ in-window
      // inserts committed strictly BEFORE the delete's version) — the
      // `_commit_version` column the CDF grew this round is what makes
      // a delete-then-reinsert of the same key inside one window
      // unambiguous (B stages exactly that: its 'BUILDING' rows are
      // deleted at v3 and re-inserted as 'REBUILT' at v4).
      // The maintained view is the segment revenue rollup: the signed
      // per-segment fold (Σ sign, Σ sign·cents) applies on top of the
      // old rollup — count and sum are self-maintainable, so V_new is
      // O(|ΔV| + |view|) with the full join never rebuilt.
      // Scale: each delta-join side is O(|Δ| · join fan-out) with the
      // base side lookup-joined (broadcast the delta at 100 TB); the
      // CDF scans read ONLY the window's files (Round14Spec pins the
      // plan via cdfPlan) and the rollup fold is map-side combinable.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        val fmt = "graft.sources.ManifestSink"
        // ---- stage table A (fact): v2 = two-thirds of orders ----
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.ivm_fact")
        s.sql("""CREATE TABLE graft_cat.marts.ivm_fact
                |(k BIGINT NOT NULL, ck BIGINT, cents BIGINT)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.ivm_fact
                |SELECT coalesce(o_orderkey, -1), o_custkey,
                |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                |FROM orders WHERE o_orderkey % 3 <> 2""".stripMargin)
        // ---- stage table B (dim): v2 = every customer ----
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.ivm_dim")
        s.sql("""CREATE TABLE graft_cat.marts.ivm_dim
                |(ck BIGINT NOT NULL, seg STRING)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.ivm_dim
                |SELECT coalesce(c_custkey, -1), c_mktsegment
                |FROM customer""".stripMargin)
        val aDir = s"${graft.util.catalogWarehouse}/marts/ivm_fact"
        val bDir = s"${graft.util.catalogWarehouse}/marts/ivm_dim"
        val (va, vb) = (2, 2) // the view's sync point
        // ---- V0: the materialized rollup at (va, vb) ----
        def readAt(p: String, v: Int) = s.read.format(fmt)
          .option("path", p).option("versionAsOf", v.toString).load()
        // ---- bases advance: A gains a third and loses ck%7=0 ----
        s.sql("""INSERT INTO graft_cat.marts.ivm_fact
                |SELECT coalesce(o_orderkey, -1), o_custkey,
                |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin) // v3
        s.sql("DELETE FROM graft_cat.marts.ivm_fact WHERE ck % 7 = 0") // v4
        // ---- B updates a segment (delete v3 + reinsert v4) ----
        s.sql("DELETE FROM graft_cat.marts.ivm_dim WHERE seg = 'BUILDING'")
        s.sql("""INSERT INTO graft_cat.marts.ivm_dim
                |SELECT coalesce(c_custkey, -1), 'REBUILT'
                |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin)
        // ---- signed deltas from the CDF windows ----
        def cdf(p: String, lo: Int, hi: Int) = s.read.format(fmt)
          .option("path", p).option("changeFeed", "true")
          .option("startingVersion", lo.toString)
          .option("endingVersion", hi.toString).load()
        // full-row signed delta: inserts keep their payload; a key-only
        // delete recovers its pre-image from (old snapshot ∪ in-window
        // inserts with _commit_version < the delete's version)
        def signedDelta(feed: org.apache.spark.sql.DataFrame,
            old: org.apache.spark.sql.DataFrame, key: String,
            payload: Seq[String], vOld: Int) = {
          val ins = feed.filter(col("_change_type") === "insert")
            .select((key +: payload).map(col) :+
              col("_commit_version").as("_v"): _*)
          val pre = old.select((key +: payload).map(col): _*)
            .withColumn("_v", lit(vOld.toLong)).unionAll(ins)
          val delKeys = feed.filter(col("_change_type") === "delete")
            .select(col(key), col("_commit_version").as("_dv"))
          val del = delKeys.join(pre, key).filter(col("_v") < col("_dv"))
            .withColumn("_rk", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col(key), col("_dv"))
                .orderBy(col("_v").desc)))
            .filter(col("_rk") === 1)
            .select((key +: payload).map(col) :+ lit(-1L).as("sgn"): _*)
          ins.drop("_v").withColumn("sgn", lit(1L)).unionAll(del)
        }
        val a0 = readAt(aDir, va).select(col("k"), col("ck"), col("cents"))
        val b0 = readAt(bDir, vb).select(col("ck"), col("seg"))
        val dA = signedDelta(cdf(aDir, va + 1, 4), a0, "k",
          Seq("ck", "cents"), va)
        val dB = signedDelta(cdf(bDir, vb + 1, 4), b0, "ck",
          Seq("seg"), vb)
        // ---- delta-join: three signed terms, never A_new ⋈ B_new ----
        val t1 = dA.join(b0, "ck")
          .select(col("seg"), col("cents"), col("sgn"))
        val t2 = a0.join(dB, "ck")
          .select(col("seg"), col("cents"), col("sgn"))
        val t3 = dA.select(col("ck"), col("cents"), col("sgn").as("sa"))
          .join(dB.select(col("ck"), col("seg"), col("sgn").as("sb")), "ck")
          .select(col("seg"), col("cents"), (col("sa") * col("sb")).as("sgn"))
        val dV = t1.unionAll(t2).unionAll(t3)
          .groupBy(col("seg"))
          .agg(sum(col("sgn")).as("dn"),
            sum(col("sgn") * col("cents")).as("drev"))
        val v0 = a0.join(b0, "ck").groupBy(col("seg"))
          .agg(count(lit(1)).as("n0"), sum(col("cents")).as("rev0"))
        v0.join(dV, Seq("seg"), "full_outer")
          .select(col("seg"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_rows"),
            (coalesce(col("rev0"), lit(0L)) + coalesce(col("drev"), lit(0L)))
              .as("rev_cents"))
          .filter(col("n_rows") > 0)
          .orderBy(col("seg"))
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey AS k, o_custkey AS ck,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders WHERE o_custkey % 7 <> 0),
             |b AS (
             |  SELECT c_custkey AS ck,
             |         CASE WHEN c_mktsegment = 'BUILDING' THEN 'REBUILT'
             |              ELSE c_mktsegment END AS seg
             |  FROM customer)
             |SELECT b.seg, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(a.cents) AS BIGINT) AS rev_cents
             |FROM a JOIN b ON a.ck = b.ck
             |GROUP BY b.seg ORDER BY seg""".stripMargin)
    ),
    Q(
      "cdc_ivm_distinct_view",
      // Incremental COUNT(DISTINCT) maintenance (round-14): the view
      // every IVM textbook calls out as NOT self-maintainable — a
      // delete can only decrement the distinct count if NO other live
      // row carries the same key, so the view needs a SUPPORT relation:
      // R(group, key) = live-row refcount. The maintenance step is pure
      // algebra on CDF deltas: fold the window's signed changes to
      // ΔR(group, key), join against R_old, and the distinct count
      // moves by [R_old = 0 ∧ R_new > 0] − [R_old > 0 ∧ R_new = 0].
      // Deletes are key-only, so their (group, key) pre-image resolves
      // the same way cdc_ivm_join_view's do (old snapshot ∪ in-window
      // inserts ordered by _commit_version). Scale: ΔR is O(changed
      // keys); R_old is touched only at the delta's keys (a lookup
      // join — broadcast the delta side at 100 TB); the base table is
      // never rescanned.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        val fmt = "graft.sources.ManifestSink"
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.ivm_dcnt")
        s.sql("""CREATE TABLE graft_cat.marts.ivm_dcnt
                |(k BIGINT NOT NULL, prio STRING, ck BIGINT)""".stripMargin)
        // v2: two-thirds of orders — the view's sync point
        s.sql("""INSERT INTO graft_cat.marts.ivm_dcnt
                |SELECT coalesce(o_orderkey, -1), o_orderpriority, o_custkey
                |FROM orders WHERE o_orderkey % 3 <> 2""".stripMargin)
        val tDir = s"${graft.util.catalogWarehouse}/marts/ivm_dcnt"
        val va = 2
        // v3: the remaining third; v4: a customer-cohort delete that
        // MUST NOT decrement groups where the customer has other rows
        s.sql("""INSERT INTO graft_cat.marts.ivm_dcnt
                |SELECT coalesce(o_orderkey, -1), o_orderpriority, o_custkey
                |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin)
        s.sql("DELETE FROM graft_cat.marts.ivm_dcnt WHERE ck % 5 = 0")
        val old = s.read.format(fmt).option("path", tDir)
          .option("versionAsOf", va.toString).load()
        // support relation at the sync point: live refcounts per (prio, ck)
        val r0 = old.groupBy(col("prio"), col("ck")).agg(count(lit(1)).as("r0"))
        val v0 = r0.groupBy(col("prio")).agg(count(lit(1)).as("v0"))
        val feed = s.read.format(fmt).option("path", tDir)
          .option("changeFeed", "true")
          .option("startingVersion", (va + 1).toString)
          .option("endingVersion", "4").load()
        val ins = feed.filter(col("_change_type") === "insert")
          .select(col("k"), col("prio"), col("ck"),
            col("_commit_version").as("_v"))
        val pre = old.select(col("k"), col("prio"), col("ck"))
          .withColumn("_v", lit(va.toLong)).unionAll(ins)
        val del = feed.filter(col("_change_type") === "delete")
          .select(col("k"), col("_commit_version").as("_dv"))
          .join(pre, "k").filter(col("_v") < col("_dv"))
          .select(col("prio"), col("ck"), lit(-1L).as("sgn"))
        val dR = ins.select(col("prio"), col("ck"), lit(1L).as("sgn"))
          .unionAll(del)
          .groupBy(col("prio"), col("ck")).agg(sum(col("sgn")).as("dr"))
        val moved = dR.join(r0, Seq("prio", "ck"), "full_outer")
          .select(col("prio"),
            coalesce(col("r0"), lit(0L)).as("was"),
            (coalesce(col("r0"), lit(0L)) + coalesce(col("dr"), lit(0L)))
              .as("now"))
          .groupBy(col("prio"))
          .agg(sum(when(col("was") === 0L && col("now") > 0L, 1L)
            .when(col("was") > 0L && col("now") === 0L, -1L)
            .otherwise(0L)).as("dv"))
        v0.join(moved, Seq("prio"), "full_outer")
          .select(col("prio").as("o_orderpriority"),
            (coalesce(col("v0"), lit(0L)) + coalesce(col("dv"), lit(0L)))
              .as("n_distinct_customers"))
          .filter(col("n_distinct_customers") > 0)
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_customers
             |FROM orders WHERE o_custkey % 5 <> 0
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
    ),
    Q(
      "stream_ivm_view_apply",
      // LIVE incremental-view maintenance (round-14): the batch
      // delta-join algebra of cdc_ivm_join_view wired to the STREAMING
      // surface — the maintained segment-revenue view is seeded at the
      // sync point, then a CDF stream tails the fact table and each
      // micro-batch applies its signed Δ⋈dim onto the landed view state
      // inside foreachBatch (insert rows carry payloads; key-only
      // deletes resolve pre-images by time-travelling to the snapshot
      // as of `_commit_version - 1` — exact under any micro-batch
      // split of the commit range). View state lands as a new parquet generation per
      // batch (an AtomicReference tracks the latest — the
      // pointer-advance pattern ManifestSink uses, in miniature), so a
      // crash between batches replays from the checkpointed offset
      // against the last published generation. This is the replica
      // consumer's real deployment shape: the view is ALWAYS readable,
      // lags the fact by one micro-batch, and each batch costs
      // O(|Δ| · fan-out), never a base rescan.
      (s, dir) => {
        mountCatalog(s)
        graft.Catalog.registerAll(s, dir)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.marts")
        val fmt = "graft.sources.ManifestSink"
        s.sql("DROP TABLE IF EXISTS graft_cat.marts.ivm_sfact")
        s.sql("""CREATE TABLE graft_cat.marts.ivm_sfact
                |(k BIGINT NOT NULL, ck BIGINT, cents BIGINT)""".stripMargin)
        s.sql("""INSERT INTO graft_cat.marts.ivm_sfact
                |SELECT coalesce(o_orderkey, -1), o_custkey,
                |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                |FROM orders WHERE o_orderkey % 3 <> 2""".stripMargin) // v2
        val tDir = s"${graft.util.catalogWarehouse}/marts/ivm_sfact"
        val dim = Tables(s, dir, "customer")
          .select(col("c_custkey").as("ck"), col("c_mktsegment").as("seg"))
        def readAt(v: Int) = s.read.format(fmt)
          .option("path", tDir).option("versionAsOf", v.toString).load()
        // seed generation: the view at the sync point (v2)
        val viewRoot = tmpDir("graft_ivm_view_")
        val seedDir = s"$viewRoot/g0"
        readAt(2).join(dim, "ck").groupBy(col("seg"))
          .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("rev_cents"))
          .write.mode("overwrite").parquet(seedDir)
        // the fact advances while the consumer is live
        s.sql("""INSERT INTO graft_cat.marts.ivm_sfact
                |SELECT coalesce(o_orderkey, -1), o_custkey,
                |       CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                |FROM orders WHERE o_orderkey % 3 = 2""".stripMargin) // v3
        s.sql("DELETE FROM graft_cat.marts.ivm_sfact WHERE ck % 7 = 0") // v4
        val latest = new java.util.concurrent.atomic.AtomicReference[String](seedDir)
        val q = s.readStream.format(fmt)
          .option("path", tDir).option("changeFeed", "true")
          .option("startingVersion", "3").load()
          .writeStream.foreachBatch {
            (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
              val sb = b.sparkSession
              val ins = b.filter(col("_change_type") === "insert")
                .select(col("k"), col("ck"), col("cents"))
              // Key-only deletes resolve pre-images against the table
              // snapshot AS OF (delete's _commit_version - 1) via the
              // sink's own time travel — exact regardless of how the
              // planner splits commits across micro-batches (ADVICE r14:
              // the old sync-snapshot ∪ same-batch-inserts resolution
              // silently dropped a delete of a row inserted in an
              // EARLIER batch). The distinct-version collect is a
              // per-batch driver scalar list, O(#commits in batch).
              val delRaw = b.filter(col("_change_type") === "delete")
                .select(col("k"), col("_commit_version").as("_dv"))
              val delVersions = delRaw.select(col("_dv")).distinct()
                .collect().map(_.getLong(0)).sorted
              val del = delVersions.map { dv =>
                // ADVICE r15: the snapshot at dv-1 may have been expired
                // by retention while the stream is live — fall back to
                // the LATEST retained snapshot <= dv-1 instead of
                // failing the batch (exact whenever the true pre-image
                // snapshot is retained, which includes every run where
                // retention lags the feed — the normal deployment
                // posture; a delete whose key landed ONLY in expired
                // snapshots resolves no pre-image, the re-seed case a
                // replica consumer handles from the current snapshot);
                // and the Long version converts CHECKED instead of
                // silently truncating to Int.
                val want = java.lang.Math.toIntExact(dv - 1)
                val at = Iterator.range(want, 0, -1).find(x =>
                    graft.sources.ManifestSink.readState(tDir, Some(x)).nonEmpty)
                  .getOrElse(throw new IllegalStateException(
                    s"no retained snapshot <= v$want at $tDir to resolve " +
                      s"delete pre-images of commit v$dv — re-seed the view"))
                delRaw.filter(col("_dv") === dv).select(col("k"))
                  .join(readAt(at)
                    .select(col("k"), col("ck"), col("cents")), "k")
                  .select(col("ck"), col("cents"), lit(-1L).as("sgn"))
              }.reduceOption(_ unionAll _).getOrElse(
                ins.select(col("ck"), col("cents"), lit(-1L).as("sgn"))
                  .limit(0))
              val dV = ins.select(col("ck"), col("cents"), lit(1L).as("sgn"))
                .unionAll(del)
                .join(dim, "ck")
                .groupBy(col("seg"))
                .agg(sum(col("sgn")).as("dn"),
                  sum(col("sgn") * col("cents")).as("drev"))
              val cur = sb.read.parquet(latest.get)
              val nextDir = s"$viewRoot/g${batchId + 1}"
              cur.join(dV, Seq("seg"), "full_outer")
                .select(col("seg"),
                  (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L)))
                    .as("n_rows"),
                  (coalesce(col("rev_cents"), lit(0L)) + coalesce(col("drev"), lit(0L)))
                    .as("rev_cents"))
                .filter(col("n_rows") > 0)
                .write.mode("overwrite").parquet(nextDir)
              latest.set(nextDir)
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(latest.get).orderBy(col("seg"))
      },
      Some("""WITH a AS (
             |  SELECT o_orderkey AS k, o_custkey AS ck,
             |         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
             |  FROM orders WHERE o_custkey % 7 <> 0),
             |b AS (SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer)
             |SELECT b.seg, CAST(count(*) AS BIGINT) AS n_rows,
             |       CAST(sum(a.cents) AS BIGINT) AS rev_cents
             |FROM a JOIN b ON a.ck = b.ck
             |GROUP BY b.seg ORDER BY seg""".stripMargin)
    ),
    Q(
      "scan_parquet_encrypted",
      // Parquet Modular Encryption: encryption at rest INSIDE the format —
      // the footer and chosen columns are AES-GCM-encrypted per file, keys
      // wrapped by a KMS (here graft.sources.InMemoryKms; swap one method
      // for a real key server). Unlike fn_aes_roundtrip (cell-level crypto
      // in query expressions) this is transparent to every query: scans
      // decrypt, pushdown/pruning still work, and a reader WITHOUT keys
      // gets a hard failure, not garbage (EncryptionSpec pins both the
      // PARE footer magic and the no-keys failure). Configs are scoped:
      // write-encrypt + read-decrypt happen inside, a plaintext staging
      // copy is what the compare reads.
      (s, dir) => {
        val enc = tmpDir("graft_parquet_enc_")
        val plain = tmpDir("graft_parquet_dec_")
        val hc = s.sparkContext.hadoopConfiguration
        val scoped = Map(
          "parquet.crypto.factory.class" ->
            "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
          "parquet.encryption.kms.client.class" -> "graft.sources.InMemoryKms")
        val saved = scoped.keys.map(k => k -> Option(hc.get(k))).toMap
        try {
          scoped.foreach { case (k, v) => hc.set(k, v) }
          Tables(s, dir, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
            .write
            .option("parquet.encryption.footer.key", "kf")
            .option("parquet.encryption.column.keys", "kc:c_name,c_acctbal")
            .mode("overwrite").parquet(enc)
          // decrypting scan (keys present) → plaintext staging copy
          s.read.parquet(enc).write.mode("overwrite").parquet(plain)
        } finally saved.foreach { case (k, vo) =>
          vo.fold(hc.unset(k))(v => hc.set(k, v))
        }
        s.read.parquet(plain).orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "sink_materialized_rollup",
      // Materialized-view rollup (round-10): the aggregate-navigator
      // pattern — land a DAILY pre-aggregate of the fact table once, then
      // answer COARSER questions (monthly per returnflag) by re-
      // aggregating the MV, never rescanning the fact. Only additive
      // measures live in the MV (BIGINT cent sums + counts); the average
      // is DERIVED at query time as sum/count — averaging the MV's
      // averages would be wrong, which is exactly the correctness trap
      // this row pins (the oracle computes straight off the raw fact
      // table, so any non-additive shortcut hash-mismatches).
      // Scale: the MV is O(groups) — at 100 TB the monthly query reads
      // thousands of MV rows instead of the fact's billions; MV
      // maintenance is one map-side-combined aggregate per sync window
      // landed into the partitioned MV (the `sink_partition_overwrite_
      // dynamic` merge shape).
      (s, dir) => {
        val tmp = tmpDir("graft_mv_")
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"),
            col("l_shipdate").cast("date").as("d"))
          .agg(
            sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
              .as("cents"),
            count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .groupBy(col("l_returnflag"),
            to_date(date_trunc("month", col("d"))).as("month"))
          .agg(sum(col("cents")).as("cents"), sum(col("n")).as("n"))
          .withColumn("avg_cents", expr("cents div n"))
          .orderBy(col("l_returnflag"), col("month"))
      },
      Some("""SELECT l_returnflag,
             |       CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS month,
             |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
             |       CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
             |            // count(*) AS BIGINT) AS avg_cents
             |FROM lineitem
             |GROUP BY l_returnflag, month
             |ORDER BY l_returnflag, month""".stripMargin)
    ),
    Q(
      "dq_schema_drift_detect",
      // Schema-drift detection (round-10): the post-sync check a CDC
      // replica runs when the SOURCE evolves — two landed generations of
      // the same table are compared by their parquet footers (O(columns)
      // metadata, never a data scan) and every column is classified
      // added / removed / type_changed / unchanged. The staged drift:
      // v2 widens o_custkey BIGINT→DOUBLE, drops o_orderpriority, adds
      // o_orderdate. Downstream this feeds `schema_evolution_merge`
      // (mergeSchema landing) and `cdc_column_diff` (selective
      // invalidation); the oracle is the analytically known diff.
      (s, dir) => {
        import s.implicits._
        val v1dir = tmpDir("graft_drift_v1_")
        val v2dir = tmpDir("graft_drift_v2_")
        val o = Tables(s, dir, "orders")
        o.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"))
          .write.mode("overwrite").parquet(v1dir)
        o.select(col("o_orderkey"), col("o_custkey").cast("double"),
            col("o_totalprice"), col("o_orderdate").cast("string"))
          .write.mode("overwrite").parquet(v2dir)
        val s1 = s.read.parquet(v1dir).schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        val s2 = s.read.parquet(v2dir).schema
          .map(f => f.name -> f.dataType.simpleString).toMap
        val diff = (s1.keySet ++ s2.keySet).toSeq.sorted.map { c =>
          (s1.get(c), s2.get(c)) match {
            case (None, Some(_))          => (c, "added")
            case (Some(_), None)          => (c, "removed")
            case (Some(a), Some(b)) if a != b => (c, s"type_changed:$a->$b")
            case _                        => (c, "unchanged")
          }
        }
        diff.toDF("col_name", "change").orderBy(col("col_name"))
      },
      Some("""SELECT * FROM (VALUES
             |  ('o_custkey', 'type_changed:bigint->double'),
             |  ('o_orderdate', 'added'),
             |  ('o_orderkey', 'unchanged'),
             |  ('o_orderpriority', 'removed'),
             |  ('o_totalprice', 'unchanged'))
             |AS t(col_name, change) ORDER BY col_name""".stripMargin)
    ),
    Q(
      "scan_parquet_agg_pushdown",
      // Parquet aggregate pushdown (round-10): MIN/MAX/COUNT grouped by a
      // partition column answered ENTIRELY from parquet footer statistics
      // and directory metadata — zero data pages decoded. Requires the
      // DSv2 parquet path (`useV1SourceList=""`) plus
      // `parquet.aggregatePushdown=true`; PlanShapeSpec pins
      // `PushedAggregation` on the scan and the absence of any data
      // column in ReadSchema. Scale: at 100 TB this is the difference
      // between a full-table scan and an O(row-groups) metadata walk —
      // the fast path every lakehouse table stats call (profiling,
      // freshness probes, `dq_profile_columns`-style sweeps) should ride.
      // Confs are scoped around an eager write (the runtime-bloom
      // discipline) so nothing leaks into the shared session.
      (s, dir) => {
        val src = aggPushdownStage(s, dir)
        val out = tmpDir("graft_aggpd_out_")
        withConfs(s, aggPushdownConfs) {
          aggPushdownQuery(s, src).write.mode("overwrite").parquet(out)
        }
        s.read.parquet(out).orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             |       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
             |       min(CAST(l_shipdate AS DATE)) AS min_sd,
             |       max(CAST(l_shipdate AS DATE)) AS max_sd
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)
    ),
    Q(
      "sink_rebalance_partitions",
      // AQE REBALANCE write (round-10): the small-files/skew fix for the
      // write path — the REBALANCE hint inserts a shuffle whose output
      // AQE re-plans at runtime: undersized partitions coalesce, oversized
      // ones SPLIT (both halves of the small-files problem; a plain
      // repartition(n) can only pick one n for all skews). The landed
      // layout is then re-read and aggregated — proving rebalancing is
      // content-neutral — and PlanShapeSpec pins the RebalancePartitions
      // node. At 100 TB this is the difference between a writer fleet
      // stalled on one skewed task + millions of KB-sized files, and
      // uniformly sized output files at the advisory partition size.
      (s, dir) => {
        val out = tmpDir("graft_rebal_")
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .hint("rebalance", col("l_orderkey"))
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .groupBy((col("l_orderkey") % 7).as("grp"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
          .orderBy(col("grp"))
      },
      Some("""SELECT l_orderkey % 7 AS grp, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem GROUP BY grp ORDER BY grp""".stripMargin)
    ),
    Q(
      "sink_partition_evolution",
      // Partition-spec evolution (round-10): the Iceberg capability on
      // plain directories — history stays in the OLD layout (by month),
      // new data lands in the REFINED one (month × returnflag), and the
      // table is the union of generations: no rewrite of old bytes, both
      // scans get their own partition pruning (month-only on gen1,
      // month+flag on gen2 — pinned in PlanShapeSpec via evolutionStage).
      // The census proves the union loses and duplicates nothing across
      // the cut. At 100 TB this is how partitioning tightens as a table
      // grows — evolve the spec forward, never rewrite history.
      (s, dir) => {
        val (g1, g2) = evolutionStage(s, dir)
        s.read.parquet(g1).unionByName(s.read.parquet(g2))
          .groupBy(expr("year(m)").as("yr"), col("rf"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"))
          .orderBy(col("yr"), col("rf"))
      },
      Some("""SELECT CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS yr,
             |       l_returnflag AS rf, CAST(count(*) AS BIGINT) AS n,
             |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
             |FROM lineitem GROUP BY yr, rf ORDER BY yr, rf""".stripMargin)
    )
  )

  /** Stage the two partition-spec generations of
    * [[sink_partition_evolution]]: gen1 = history partitioned by month,
    * gen2 = post-evolution data partitioned by (month, returnflag), cut
    * at 1998-01-01. Shared with PlanShapeSpec's pruning pin.
    */
  private[graft] def evolutionStage(
      s: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val g1 = tmpDir("graft_pevo1_"); val g2 = tmpDir("graft_pevo2_")
    val li = Tables(s, dir, "lineitem").select(
      expr("CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)").as("m"),
      col("l_returnflag").as("rf"), col("l_orderkey"), col("l_quantity"))
    // co-locate each output partition's rows into one task before the
    // partitioned write: otherwise every shuffle partition × dir pair
    // emits its own small file (32 × ~80 dirs at sf0.1 — the
    // small-files trap the compaction rows exist to clean up)
    // r17 (guide §2.6): the two generations are independent writes to
    // disjoint paths — overlapping them lets gen2's shuffle/write back-
    // fill gen1's partitioned-commit tail (many small per-month files)
    graft.util.inParallel(Seq(
      () => li.filter(col("m") < lit("1998-01-01")).repartition(col("m"))
        .write.mode("overwrite").partitionBy("m").parquet(g1),
      () => li.filter(col("m") >= lit("1998-01-01")).repartition(col("m"), col("rf"))
        .write.mode("overwrite").partitionBy("m", "rf").parquet(g2)))
    (g1, g2)
  }

  private[graft] val aggPushdownConfs = Seq(
    "spark.sql.sources.useV1SourceList" -> "", // pushdown is DSv2-only
    "spark.sql.parquet.aggregatePushdown" -> "true")

  /** Stage lineitem partitioned by returnflag for
    * [[scan_parquet_agg_pushdown]] — DATE, not the fixture's TIMESTAMP:
    * parquet agg pushdown serves min/max from int32/int64 column stats
    * and ParquetScanBuilder excludes timestamp columns.
    */
  private[graft] def aggPushdownStage(
      s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val src = tmpDir("graft_aggpd_src_")
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_shipdate").cast("date").as("l_shipdate"))
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(src)
    src
  }

  /** The metadata-only aggregate of [[scan_parquet_agg_pushdown]];
    * PlanShapeSpec pins `PushedAggregation` on its scan.
    */
  private[graft] def aggPushdownQuery(
      s: org.apache.spark.sql.SparkSession,
      src: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(src)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_ok"),
        max(col("l_orderkey")).as("max_ok"),
        min(col("l_shipdate")).as("min_sd"),
        max(col("l_shipdate")).as("max_sd"))

  /** Write variants shredded into typed parquet leaf columns, with the
    * shredding schema inferred from the data. Shared with VariantShredSpec.
    */
  private[graft] val variantShredConfs = Seq(
    "spark.sql.variant.writeShredding.enabled" -> "true",
    "spark.sql.variant.inferShreddingSchema" -> "true")

  /** Broadcast off, so the bucketed tables of [[sink_bucketed_join]] join
    * by sort-merge — the co-located plan bucketing buys, which Catalyst
    * would otherwise (rightly) replace with a broadcast at fixture scale.
    */
  private[graft] val noBroadcastConfs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
}
