package thrivespark.ops

import org.apache.spark.sql.functions._
import thrivespark.{Op, Scratch, Tables => T}
import thrivespark.Det._

/** SURVEY.md §2.1 — scans, sources, sinks (#1–#4; #5 JDBC is in
  * thrivespark.sinks + ScalaTest, no oracle possible offline).
  *
  * Scale notes: #1/#2 are pure parquet scans — pushdown + pruning verified in
  * PlanSpec; #4 writes a Hive-style partitioned layout (the Thrive ingest
  * pattern) and reads it back, exercising partition discovery + dynamic
  * pruning-capable layout.
  */
object Scans {
  val ops: Seq[Op] = Seq(
    Op("scan_full",
      (s, d) => T.region(s, d)
        .select($c("r_regionkey"), $c("r_name"))
        .orderBy($c("r_regionkey")),
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    Op("scan_pushdown_filter",
      (s, d) => T.lineitem(s, d)
        .filter($c("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
                $c("l_discount") > 0.05)
        .select($c("l_orderkey"), $c("l_linenumber"),
          $c("l_shipdate").cast("date").as("ship_date"), $c("l_extendedprice"))
        // R1: (orderkey, linenumber) is not unique in this data — sort by all
        // emitted columns so the output order is total.
        .orderBy($c("l_orderkey"), $c("l_linenumber"), $c("ship_date"), $c("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date, l_extendedprice
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_discount > 0.05
              ORDER BY l_orderkey, l_linenumber, ship_date, l_extendedprice""")),

    // JSON-lines field extraction; the parse itself is shared via the
    // persisted parsed-events projection (Tables.eventsParsed).
    Op("scan_json_lines",
      (s, d) => T.eventsParsed(s, d)
        .select($c("k"))
        .groupBy($c("k")).agg(count(lit(1)).as("cnt"))
        .orderBy($c("k")),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS cnt
              FROM events GROUP BY 1 ORDER BY 1""")),

    Op("sink_partitioned",
      (s, d) => {
        val sink = Scratch.sink("sink_partitioned", d)
        // repartition by the partition column first: one file per partition
        // instead of (tasks × partitions) small files — the pattern that
        // keeps a Hive-style sink healthy at scale.
        T.events(s, d).withColumn("dt", to_date($c("ts")))
          .repartition($c("dt"))
          .write.mode("overwrite").partitionBy("dt").parquet(sink)
        s.read.parquet(sink)
          .groupBy($c("dt")).agg(count(lit(1)).as("cnt"))
          .orderBy($c("dt"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS cnt
              FROM events GROUP BY 1 ORDER BY 1""")),

    // Catalog-backed table sink (r6): the reference's actual load contract
    // is a partitioned CATALOG table (SURVEY §1.1 maps Thrive's Hive load
    // to saveAsTable), not a bare path. saveAsTable registers the table +
    // its partition metadata in the session catalog; the read-back goes
    // through spark.table (catalog resolution, partition-aware scan —
    // partition pruning on dt is asserted in PlanSpec), and the audit
    // aggregation is oracle-checked against the source. The table is
    // external under /tmp/graft_eph so the repo tree stays clean; the name
    // and path are dataset-scoped and the write is an idempotent
    // overwrite. At scale this is exactly the Hive-metastore pattern —
    // same API, the catalog just points at HMS instead.
    Op("sink_hive_table",
      (s, d) => {
        val table = hiveSinkTable(d)
        s.sql(s"DROP TABLE IF EXISTS $table")
        T.events(s, d).withColumn("dt", to_date($c("ts")))
          .repartition($c("dt"))
          .write.mode("overwrite").partitionBy("dt")
          .option("path", Scratch.sink("hivetbl", d))
          .saveAsTable(table)
        s.table(table)
          .groupBy($c("dt")).agg(count(lit(1)).as("cnt"))
          .orderBy($c("dt"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS dt, count(*) AS cnt
              FROM events GROUP BY 1 ORDER BY 1""")),

    // Raw-file media ingestion (r12): `format("binaryFile")` IS the 100 TB
    // media-lake read path — a directory of image/audio files becomes
    // (path, modificationTime, length, content) rows, partitioned by file
    // like any other scan, with pathGlobFilter pruning at listing time.
    // Fixture: 40 REAL .ppm files written once per dataset (bounded
    // driver-side file IO — generation is the fixture, the DISTRIBUTED
    // read+decode is the op); media_id parses from the filename, the
    // payload feeds the same real PPM decoder as multimodal_features, and
    // the source's own `length` column is oracle-checked against the
    // closed-form P6 size (9 + digits(w) + digits(h) + 3wh) — proving the
    // bytes on disk, the source metadata and the decode all agree.
    Op("source_binary_files",
      (s, d) => {
        val mm = thrivespark.multimodal.Multimodal
        val dir = java.nio.file.Paths.get(Scratch.sink("binsrc", d))
        java.nio.file.Files.createDirectories(dir)
        // hermetic fixture: clear stale .ppm files first — a previous
        // dataset sharing the leaf name must not leak rows into this read.
        // Files.list keeps a directory handle open until the stream is
        // closed — without the finally each run leaks a descriptor.
        locally {
          val st = java.nio.file.Files.list(dir)
          try st.forEach { p =>
            if (p.toString.endsWith(".ppm")) java.nio.file.Files.delete(p)
          } finally st.close()
        }
        val ids = T.documents(s, d).select($c("doc_id"))
          .filter($c("doc_id") < 40).collect().map(_.getLong(0))  // bounded ≤40
        ids.foreach { id =>
          java.nio.file.Files.write(dir.resolve(f"img_$id%05d.ppm"),
            mm.ppmBytes(id))
        }
        val bin = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.ppm").load(dir.toString)
          .select(
            regexp_extract($c("path"), "img_(\\d+)\\.ppm$", 1)
              .cast("long").as("media_id"),
            $c("length"), $c("content").as("payload"))
        mm.extractPpmFeatures(bin.select($c("media_id"), $c("payload")))
          .join(bin.select($c("media_id"), $c("length")), "media_id")
          .select($c("media_id"), $c("length"), $c("width"), $c("height"),
            $c("r_mean_micros"), $c("thumb_checksum"))
          .orderBy($c("media_id"))
      },
      Some("""WITH m AS (
                SELECT doc_id AS media_id,
                       8 + (doc_id % 9) AS w,
                       8 + (doc_id % 7) AS h
                FROM documents WHERE doc_id < 40
              ), px AS (
                SELECT m.media_id, m.w, m.h, x.x AS x, y.y AS y,
                       (3 * m.media_id + x.x + 2 * y.y) % 256 AS r,
                       (3 * m.media_id + x.x + 2 * y.y + 37) % 256 AS g,
                       (3 * m.media_id + x.x + 2 * y.y + 74) % 256 AS b
                FROM m
                JOIN generate_series(0, 15) AS x(x) ON x.x < m.w
                JOIN generate_series(0, 13) AS y(y) ON y.y < m.h
              ), sums AS (
                SELECT media_id, w, h, SUM(r) AS rsum
                FROM px GROUP BY 1, 2, 3
              ), cells AS (
                SELECT media_id, (x * 8) // w AS ci, (y * 8) // h AS cj,
                       SUM(r + g + b) AS gs, COUNT(*) AS nb
                FROM px GROUP BY 1, 2, 3
              ), thumb AS (
                SELECT media_id, SUM(gs // (3 * nb)) AS tsum
                FROM cells GROUP BY 1
              )
              SELECT s.media_id,
                     CAST(9 + length(CAST(w AS VARCHAR))
                            + length(CAST(h AS VARCHAR)) + 3 * w * h
                          AS BIGINT) AS length,
                     CAST(w AS INTEGER) AS width,
                     CAST(h AS INTEGER) AS height,
                     CAST(rsum * 1000000 // (w * h) AS BIGINT) AS r_mean_micros,
                     CAST(t.tsum AS BIGINT) AS thumb_checksum
              FROM sums s JOIN thumb t ON s.media_id = t.media_id
              ORDER BY s.media_id""")),
  )

  /** Catalog name of the sink_hive_table external table: the leaf of its
    * per-JVM location `Scratch.sink("hivetbl", d)`. Two concurrent runs over
    * the same dataset get disjoint tables and directories — DROP TABLE on
    * an external table does not remove files, so a shared path would race
    * on saveAsTable's Overwrite clearing. */
  def hiveSinkTable(d: String): String = new java.io.File(Scratch.sink("hivetbl", d)).getName

  private def $c(n: String) = col(n)
}
