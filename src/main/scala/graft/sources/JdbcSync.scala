package graft.sources

import java.util.Properties

import org.apache.spark.sql.DataFrame

import graft.config.{DbConfig, SyncConfig}

/** JDBC sink wiring for the sync pipeline — the Spark-native form of
  * the reference's datasource abstraction (`dbopt/DbOperation.scala`,
  * `DatasourcePools.scala`): the generated upsert/delete statements a
  * JDBC sink executes per partition, and the executor that runs them.
  *
  * The EXECUTION path (partition-parallel connections, batched
  * prepared statements, per-batch commits) runs live against an
  * embedded in-JVM database through the portable update-then-insert
  * pair (JdbcApplySpec: upsert → re-upsert → delete → JDBC read-back).
  * The pg/mysql/greenplum dialect TEXT is generated and checked as
  * text only: no networked database is part of the test setup. Reads
  * are planned by `Snapshot.sourcePartitionPlan` and
  * `config.SyncConfigs`; Spark's own `jdbc` source runs them.
  */
object JdbcSync {
  private val IdentRe = "[A-Za-z_][A-Za-z0-9_]*".r

  /** Validate a YAML-sourced identifier before interpolating it into
    * generated SQL — config is data, not trusted SQL text; a malformed
    * or hostile schema/table/key/column name must fail fast here, not
    * produce a broken or injectable statement downstream. */
  def ident(name: String): String = {
    require(IdentRe.matches(name),
      s"illegal SQL identifier from config: '$name'")
    name
  }

  private def qualified(schema: String, table: String): String =
    s"${ident(schema)}.${ident(table)}"

  /** JDBC url per db type — mirrors the url shapes the reference's
    * config carries. */
  def url(db: DbConfig, host: String = "localhost", port: Int = 5432): String =
    db.`type` match {
      case "postgresql" | "greenplum" => s"jdbc:postgresql://$host:$port/${db.name}"
      case "mysql"                    => s"jdbc:mysql://$host:$port/${db.name}"
      case other => throw new IllegalArgumentException(s"unsupported db type: $other")
    }

  /** The poll query a JDBC changelog source issues — the reference's
    * pollBatch SQL shape (`dbopt/PgOperation.scala:27-46`): unpolled
    * rows, id-ordered, bounded. */
  def pollSql(sysSchema: String, batch: Int): String =
    s"""SELECT t1.* FROM ${ident(sysSchema)}.sync_data t1
       |LEFT JOIN ${ident(sysSchema)}.sync_polled t2 ON t1.id = t2.data_id
       |WHERE t2.data_id IS NULL ORDER BY t1.id LIMIT $batch""".stripMargin

  /** Upsert statement for one sync table, per target dialect — the
    * reference emits INSERT..ON CONFLICT (postgresql,
    * `dbopt/PgOperation.scala:49-82`), INSERT..ON DUPLICATE KEY
    * (mysql, `dbopt/MysqlOperation.scala`), or routes through the
    * installed update-then-insert `gp_upsert` helper (greenplum has no
    * ON CONFLICT — `dbopt/GpOperation.scala:47-94`). */
  def upsertSql(sync: SyncConfig, columns: Seq[String],
                dialect: String = "postgresql"): String = {
    val keys = sync.sourceKeys.split(",").map(_.trim).map(ident).toSeq
    val nonKeys = columns.filterNot(keys.contains).map(ident)
    val target = qualified(sync.sourceSchema, sync.sourceTable)
    val cols = columns.map(ident).mkString(", ")
    val placeholders = columns.map(_ => "?").mkString(", ")
    dialect match {
      case "greenplum" =>
        s"SELECT public.gp_upsert('${ident(sync.sourceSchema)}', " +
          s"'${ident(sync.sourceTable)}', " +
          s"ARRAY[${keys.map(k => s"'$k'").mkString(", ")}], ?::json)"
      case "postgresql" =>
        if (nonKeys.isEmpty)
          s"INSERT INTO $target ($cols) VALUES ($placeholders) " +
            s"ON CONFLICT (${keys.mkString(", ")}) DO NOTHING"
        else
          s"INSERT INTO $target ($cols) VALUES ($placeholders) " +
            s"ON CONFLICT (${keys.mkString(", ")}) DO UPDATE SET " +
            nonKeys.map(c => s"$c = EXCLUDED.$c").mkString(", ")
      case "mysql" =>
        if (nonKeys.isEmpty)
          s"INSERT IGNORE INTO $target ($cols) VALUES ($placeholders)"
        else
          s"INSERT INTO $target ($cols) VALUES ($placeholders) " +
            "ON DUPLICATE KEY UPDATE " +
            nonKeys.map(c => s"$c = VALUES($c)").mkString(", ")
      case other => throw new IllegalArgumentException(s"unsupported dialect: $other")
    }
  }

  /** Greenplum bulk-load path (the reference's gpfdist fast lane,
    * `dbopt/GpOperation.scala`): stage partition files behind a file
    * server, map them as a readable external table, INSERT..SELECT.
    * In Spark the staging IS the DataFrame write — each partition
    * writes one file in parallel. */
  def bulkLoadSql(sync: SyncConfig, columns: Seq[String],
                  gpfdistUrl: String): Seq[String] = {
    val target = qualified(sync.sourceSchema, sync.sourceTable)
    val ext = ident(s"ext_${sync.sourceTable}_stage")
    val cols = columns.map(ident).mkString(", ")
    Seq(
      s"DROP EXTERNAL TABLE IF EXISTS $ext",
      s"CREATE READABLE EXTERNAL TABLE $ext (LIKE $target) " +
        s"LOCATION ('$gpfdistUrl/part-*.csv') FORMAT 'CSV'",
      s"INSERT INTO $target ($cols) SELECT $cols FROM $ext",
      s"DROP EXTERNAL TABLE $ext")
  }

  /** Delete statement keyed on the sync keys. */
  def deleteSql(sync: SyncConfig): String = {
    val keys = sync.sourceKeys.split(",").map(_.trim).map(ident).toSeq
    s"DELETE FROM ${qualified(sync.sourceSchema, sync.sourceTable)} WHERE " +
      keys.map(k => s"$k = ?").mkString(" AND ")
  }

  /** Update-then-insert statement pair — the portable ANSI upsert the
    * reference's greenplum path installs as its `gp_upsert` helper
    * (`dbopt/GpOperation.scala:47-94`: UPDATE by key, INSERT on zero
    * rows touched), and the dialect the embedded round-trip lane
    * executes LIVE (Derby accepts neither ON CONFLICT nor a VALUES
    * MERGE source). A key-only table has nothing to update, so its
    * first leg is a DELETE by key — delete-then-insert is the
    * idempotent key-only upsert (a bare re-INSERT would violate the
    * PK on re-apply). Bind orders: update = nonKeys then keys (the
    * delete leg binds keys only); insert = all columns in `columns`
    * order. */
  def updateInsertSql(sync: SyncConfig, columns: Seq[String])
  : (String, String) = {
    val keys = sync.sourceKeys.split(",").map(_.trim).map(ident).toSeq
    val nonKeys = columns.filterNot(keys.contains).map(ident)
    val target = qualified(sync.sourceSchema, sync.sourceTable)
    val cols = columns.map(ident)
    val update =
      if (nonKeys.isEmpty)
        s"DELETE FROM $target WHERE " +
          keys.map(k => s"$k = ?").mkString(" AND ")
      else s"UPDATE $target SET " +
        nonKeys.map(c => s"$c = ?").mkString(", ") +
        " WHERE " + keys.map(k => s"$k = ?").mkString(" AND ")
    val insert = s"INSERT INTO $target (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    (update, insert)
  }

  /** Batch size per executeBatch round-trip. */
  val UpsertBatchSize = 500

  /** Upsert a merged changelog through the portable update-then-insert
    * pair — the path the embedded round-trip lane (JdbcApplySpec,
    * in-memory Derby) executes against a LIVE database. Partition-
    * parallel connections, BATCHED rounds: each [[UpsertBatchSize]]
    * group batches its UPDATEs, reads `executeBatch`'s per-row update
    * counts, batches the zero-count rows as INSERTs, commits — two
    * statements per round, never per row. */
  def writeUpsertPortable(df: DataFrame, jdbcUrl: String, sync: SyncConfig,
                          props: Properties = new Properties()): Unit = {
    val columns = df.columns.toSeq
    val keys = sync.sourceKeys.split(",").map(_.trim).toSeq
    val keyIdx = keys.map(columns.indexOf)
    require(keyIdx.forall(_ >= 0), s"sync keys $keys not all in $columns")
    val nonKeyIdx = columns.indices.filterNot(keyIdx.contains)
    val keyOnly = nonKeyIdx.isEmpty
    val (updateSql, insertSql) = updateInsertSql(sync, columns)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
      try {
        conn.setAutoCommit(false)
        val upd = conn.prepareStatement(updateSql)
        val ins = conn.prepareStatement(insertSql)
        def bindFirstLeg(row: org.apache.spark.sql.Row): Unit = {
          var p = 1
          nonKeyIdx.foreach { i => upd.setObject(p, row.get(i)); p += 1 }
          keyIdx.foreach { i => upd.setObject(p, row.get(i)); p += 1 }
        }
        rows.grouped(UpsertBatchSize).foreach { group =>
          group.foreach { row => bindFirstLeg(row); upd.addBatch() }
          val counts = upd.executeBatch()
          val misses =
            if (keyOnly) group // delete-then-insert: every row re-inserts
            else if (counts.exists(_ == java.sql.Statement.SUCCESS_NO_INFO))
              // the driver elided per-row counts (e.g. rewritten
              // batches): re-run the update leg row-by-row — same
              // values, so the repeat is idempotent — to learn which
              // keys were absent
              group.filter { row => bindFirstLeg(row); upd.executeUpdate() == 0 }
            else group.zip(counts).collect { case (row, 0) => row }
          misses.foreach { row =>
            columns.indices.foreach(i => ins.setObject(i + 1, row.get(i)))
            ins.addBatch()
          }
          if (misses.nonEmpty) ins.executeBatch()
          conn.commit()
        }
        upd.close()
        ins.close()
      } finally conn.close()
    }
  }

  /** Apply a delete batch (one row per key tuple, columns = the sync
    * keys in config order) with the same batched-execution shape. */
  def writeDelete(keys: DataFrame, jdbcUrl: String, sync: SyncConfig,
                  props: Properties = new Properties()): Unit = {
    val keyCols = sync.sourceKeys.split(",").map(_.trim).toSeq
    executeBatched(keys.selectExpr(keyCols: _*), jdbcUrl, deleteSql(sync),
      props)
  }

  /** The shared batched executor: each partition opens one connection
    * and runs the prepared statement in [[UpsertBatchSize]] batches
    * with per-batch commits — the reference's apply loop shape
    * (`dbopt/PgOperation.scala:49-101`), distributed per partition. */
  private def executeBatched(df: DataFrame, jdbcUrl: String, sql: String,
                             props: Properties): Unit = {
    val columns = df.columns.toSeq
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
      try {
        conn.setAutoCommit(false)
        val stmt = conn.prepareStatement(sql)
        var pending = 0
        rows.foreach { row =>
          columns.indices.foreach(i => stmt.setObject(i + 1, row.get(i)))
          stmt.addBatch()
          pending += 1
          if (pending >= UpsertBatchSize) {
            stmt.executeBatch(); conn.commit(); pending = 0
          }
        }
        if (pending > 0) { stmt.executeBatch(); conn.commit() }
        stmt.close()
      } finally conn.close()
    }
  }
}
