package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Pluggable streaming sinks for the projected 12-column flow frame —
  * mirrors the reference's sink selection (`/root/reference/cmd/main.go:37-41`:
  * empty ClickHouse URL → stdout exporter).
  */
trait FlowSink {
  def start(df: DataFrame, checkpoint: String): StreamingQuery
}

/** Stdout sink (`pkg/stdout/export_stdout.go:12-27`). */
final case class ConsoleSink(numRows: Int = 20) extends FlowSink {
  override def start(df: DataFrame, checkpoint: String): StreamingQuery =
    df.writeStream.format("console")
      .option("numRows", numRows.toString)
      .option("truncate", "false")
      .option("checkpointLocation", checkpoint)
      .start()
}

/** Durable columnar sink for replay/bench — strictly stronger than the
  * reference's `engine=Memory` non-durable table
  * (`pkg/clickhouse/connect.go:88`).
  */
final case class ParquetSink(path: String) extends FlowSink {
  override def start(df: DataFrame, checkpoint: String): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()
}

/** In-memory queryable sink (tests / the probe query surface). */
final case class MemorySink(tableName: String) extends FlowSink {
  override def start(df: DataFrame, checkpoint: String): StreamingQuery =
    df.writeStream.format("memory")
      .queryName(tableName)
      .option("checkpointLocation", checkpoint)
      .start()
}

/** Idempotent JDBC UPSERT sink: per micro-batch, each key's row is
  * delete-then-inserted inside one transaction per partition — so a REPLAYED
  * batch (restart from an earlier checkpoint, foreachBatch's at-least-once
  * redelivery) converges to the same table state instead of duplicating.
  * This is the standard exactly-once-by-key upgrade over [[JdbcSink]]'s
  * append: append + replay = duplicates; upsert + replay = idempotent.
  *
  * Scale/semantics notes:
  *  - the batch is key-deduplicated first (`dropDuplicates(keyCols)`), so
  *    keys are globally unique across partitions and the per-partition
  *    transactions can't race on a key;
  *  - one connection + two prepared statements per PARTITION, JDBC-batched —
  *    the same per-partition shape every distributed JDBC writer uses; no
  *    driver-side collect;
  *  - identifiers are double-quoted (ANSI) — Derby needs it for reserved
  *    words like `end`; ClickHouse accepts ANSI quotes;
  *  - DDL at `start()` mirrors [[JdbcSink]]: `recreate=true` overwrites with
  *    the empty frame (DROP + CREATE), else a 0-row append creates the
  *    table only if missing;
  *  - connection `options` (user/password/driver/...) reach BOTH paths: the
  *    Spark writer via `.options`, the executor-side connections as JDBC
  *    `Properties` (minus the Spark-writer-only keys).
  */
final case class UpsertJdbcSink(url: String, keyCols: Seq[String],
                                table: String = "flows",
                                options: Map[String, String] = Map.empty,
                                recreate: Boolean = false,
                                outputMode: Option[String] = None) extends FlowSink {

  private def q(c: String): String = "\"" + c + "\""

  /** Option keys consumed by the Spark JDBC writer itself — everything else
    * is a driver connection property (user, password, ssl, ...).
    */
  private val sparkWriterKeys = Set("url", "dbtable", "query", "driver",
    "numpartitions", "batchsize", "truncate", "isolationlevel")

  /** Delete-then-insert every row of `batch` keyed by [[keyCols]] —
    * idempotent under replay. Package-visible so the spec can drive replay
    * directly.
    */
  private[sinks] def upsert(batch: DataFrame): Unit = {
    val cols = batch.schema.fieldNames.toSeq
    val keys = keyCols
    // table UNQUOTED (matches how Spark's JDBC writer created it — quoting
    // would make it case-sensitive and miss Derby's normalized name);
    // columns QUOTED (the writer quotes them, which is what lets reserved
    // words like `end` exist at all). String keys compare through a VARCHAR
    // cast: dialects that map StringType to CLOB (Derby) can't `=` on the
    // raw column; the cast is a no-op where strings are plain VARCHAR. The
    // width is Derby's VARCHAR maximum — key values longer than that raise
    // a loud truncation error (keys that long should be hashed first).
    val deleteSql = s"DELETE FROM $table WHERE " +
      keys.map { k =>
        batch.schema(k).dataType match {
          case org.apache.spark.sql.types.StringType =>
            s"CAST(${q(k)} AS VARCHAR(32672)) = ?"
          case _ => s"${q(k)} = ?"
        }
      }.mkString(" AND ")
    val insertSql = s"INSERT INTO $table (${cols.map(q).mkString(", ")}) VALUES " +
      cols.map(_ => "?").mkString("(", ", ", ")")
    val jdbcUrl = url
    val opts = options
    val writerKeys = sparkWriterKeys
    batch.dropDuplicates(keys).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          opts.get("driver").foreach(Class.forName)
          val props = new java.util.Properties()
          opts.foreach { case (k, v) =>
            if (!writerKeys.contains(k.toLowerCase)) props.setProperty(k, v)
          }
          val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
          try {
            conn.setAutoCommit(false)
            val del = conn.prepareStatement(deleteSql)
            val ins = conn.prepareStatement(insertSql)
            try {
              rows.foreach { r =>
                keys.zipWithIndex.foreach { case (k, i) =>
                  del.setObject(i + 1, r.get(r.fieldIndex(k)))
                }
                del.addBatch()
                cols.zipWithIndex.foreach { case (c, i) =>
                  ins.setObject(i + 1, r.get(r.fieldIndex(c)))
                }
                ins.addBatch()
              }
              del.executeBatch()
              ins.executeBatch()
              conn.commit()
            } catch {
              case e: Throwable =>
                // roll back so close() doesn't throw on an active
                // transaction and mask the root cause (and so a server DB
                // isn't left holding delete locks until timeout)
                try conn.rollback() catch { case _: Exception => () }
                throw e
            } finally {
              try del.close() catch { case _: Exception => () }
              try ins.close() catch { case _: Exception => () }
            }
          } finally conn.close()
        }
    }
  }

  override def start(df: DataFrame, checkpoint: String): StreamingQuery = {
    // DDL mirrors JdbcSink: overwrite (DROP + CREATE) when recreate, else a
    // 0-row append that creates the table only if missing.
    val empty = df.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
    try empty.write.format("jdbc")
      .option("url", url).option("dbtable", table).options(options)
      .mode(if (recreate) "overwrite" else "append").save()
    catch {
      case e: Exception =>
        System.err.println(s"[sink] upsert table setup failed: ${e.getMessage}")
    }
    // outputMode("update") + a keyed upsert = a streaming MATERIALIZED VIEW:
    // each re-emission of a still-open window/group replaces the previous
    // row for its key, so the table converges to the latest aggregate state
    // (spec: "streaming materialized view" in FlowSinkSpec).
    val writer = df.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        try upsert(batch)
        catch {
          case e: Exception =>
            System.err.println(s"[sink] batch $id upsert failed, dropping: ${e.getMessage}")
        }
      }
      .option("checkpointLocation", checkpoint)
    outputMode.fold(writer)(writer.outputMode).start()
  }
}

/** JDBC sink via foreachBatch — the reference's ClickHouse exporter
  * (`pkg/clickhouse/export_clickhouse.go:81-87`) upgraded from one INSERT per
  * record to one batched transactional write per micro-batch.
  *
  * DDL is an explicit setup step at `start()` (driver-side, before the
  * stream): `recreate=true` overwrites with an empty frame — the JDBC
  * writer's DROP + CREATE, mirroring the reference's startup DDL
  * (`connect.go:70-91`, which also re-creates on every process start);
  * `recreate=false` skips it for checkpoint resumes that must keep prior
  * rows. Every micro-batch then appends — including a *re-tried* batch 0,
  * which under the old `mode(id == 0)` keying would have re-run DDL
  * mid-stream and dropped committed data. (Spark's JDBC append also creates
  * a missing table, so `recreate=false` against a fresh database still
  * works.)
  *
  * Insert failures are logged and the batch skipped, like the reference's
  * warn-and-drop (`export_clickhouse.go:85-87`). Compiles against plain
  * JDBC; needs the vendor driver jar on the runtime classpath. The real
  * JDBC path (DDL + batched append + restart-resume) is executed end to end
  * against embedded Derby in FlowSinkSpec — `writerOverride` remains only
  * as the seam for a vendor-native (non-JDBC) writer.
  */
final case class JdbcSink(url: String, table: String = "flows",
                          options: Map[String, String] = Map.empty,
                          recreate: Boolean = true,
                          writerOverride: Option[(DataFrame, String) => Unit] = None) extends FlowSink {

  private def write(batch: DataFrame, mode: String): Unit =
    writerOverride.getOrElse { (b: DataFrame, m: String) =>
      b.write.format("jdbc")
        .option("url", url).option("dbtable", table)
        .options(options)
        .mode(m)
        .save()
    }.apply(batch, mode)

  override def start(df: DataFrame, checkpoint: String): StreamingQuery = {
    if (recreate) {
      // DDL-once: 0-row overwrite = DROP + CREATE, no data written.
      val empty = df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), df.schema)
      try write(empty, "overwrite")
      catch {
        case e: Exception =>
          System.err.println(s"[sink] table setup failed (append will create if missing): ${e.getMessage}")
      }
    }
    df.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        try write(batch, "append")
        catch {
          case e: Exception =>
            System.err.println(s"[sink] batch $id insert failed, dropping: ${e.getMessage}")
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
