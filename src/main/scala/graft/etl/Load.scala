package graft.etl

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, IntegerType, LongType, StringType}

/** JDBC warehouse sink — reference `etl/load.py` (SURVEY §2i).
  *
  * K2 DDL, K3 truncate-reload, K4 batch append, K5 upsert, K6 empty guard,
  * K7 row-count logging. `Verify` writes parquet instead (SURVEY §7 build
  * plan step 5).
  *
  * Dialect matrix (what runs against a real engine vs. string-level):
  * neither Postgres nor an ON-CONFLICT-parsing embedded engine (H2 pg
  * mode) ships in this environment — Derby (on Spark's classpath) is the
  * honest executed maximum. H2-PG-mode execution was attempted and is
  * REFUSED by the environment, not skipped: no `com.h2database` (nor
  * hsqldb/sqlite) artifact exists in `/opt/spark/jars` or the offline
  * coursier cache, and with `COURSIER_MODE=offline` + zero egress a new
  * `libraryDependencies` entry cannot resolve.
  * {{{
  * op             Postgres dialect (reference)      executed here (Derby)
  * K2 DDL         multi-statement script            EXECUTED  (LoadSpec)
  * K3 truncate    truncateSql: multi-table,         truncateTableSql: single
  *                RESTART IDENTITY — string-tested  table — EXECUTED reload
  *                                                  cycle (LoadSpec)
  * K4 append      df.write.jdbc                     EXECUTED  (PipelineSpec)
  * K5 upsert      upsertSql: INSERT … ON CONFLICT   mergeSql: MERGE via
  *                DO UPDATE — string-tested         SYSIBM.SYSDUMMY1 —
  *                                                  EXECUTED, idempotent
  *                                                  (LoadSpec)
  * }}}
  *
  * Scale: `df.write.jdbc` parallelizes one connection per partition —
  * `numPartitions`/`batchsize` bound the connection count and round-trips.
  * The upsert (no native Spark JDBC merge, SURVEY §7.8) runs per-partition
  * batched `INSERT ... ON CONFLICT DO UPDATE`, which is idempotent, so a
  * retried task re-applies the same rows harmlessly (exactly the property
  * the reference relies on for its customers dim, `etl/load.py:81-109`).
  */
object Load {

  /** Sink-side decimal casts (P10) — the reference stores money as
    * DECIMAL(10,2)/DECIMAL(15,2) (`db.sql:9-10,31`) while computing in
    * float; we mirror: compute in double/decimal, cast at the sink
    * (`etl/load.py:63-77`).
    */
  def castForSink(df: DataFrame, types: Map[String, DataType]): DataFrame =
    types.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }

  val salesSinkTypes: Map[String, DataType] = Map(
    "order_id" -> IntegerType, "quantity" -> IntegerType,
    "unit_price" -> DecimalType(10, 2), "total_price" -> DecimalType(10, 2),
    "order_date" -> DateType, "month" -> StringType)

  /** K3, Postgres dialect — reference `etl/load.py:40-55` (multi-table,
    * identity reset). String-tested only: see the dialect matrix above.
    */
  def truncateSql(tables: Seq[String]): String =
    s"TRUNCATE TABLE ${tables.mkString(", ")} RESTART IDENTITY"

  /** K3, ANSI/Derby dialect — one table per statement, no identity reset;
    * the form the EXECUTED truncate-reload cycle runs in `LoadSpec`.
    */
  def truncateTableSql(table: String): String =
    s"TRUNCATE TABLE $table"

  /** Script → statements for [[applyDdl]]: split on `;` and strip `--`
    * comments, both ONLY outside single-quoted strings, so a semicolon or
    * `--` inside a literal/CHECK expression survives ('' is the SQL quote
    * escape). Statement-level parsing only — this is a DDL-script runner,
    * not a SQL parser; dollar-quoting and nested block comments are out of
    * scope (the reference's db.sql uses neither).
    */
  private[etl] def splitStatements(script: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var inStr = false
    while (i < script.length) {
      val c = script.charAt(i)
      if (inStr) {
        cur.append(c)
        if (c == '\'') {
          if (i + 1 < script.length && script.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inStr = false
        }
      } else if (c == '\'') { inStr = true; cur.append(c) }
      else if (c == '-' && i + 1 < script.length && script.charAt(i + 1) == '-') {
        while (i < script.length && script.charAt(i) != '\n') i += 1
        cur.append('\n')
      } else if (c == ';') { out += cur.toString; cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** K2 DDL apply — reference `create_tables` executes the db.sql script
    * statement by statement (`etl/load.py:29-37`); statements come from
    * the quote-aware [[splitStatements]]. Idempotence comes from the DDL
    * itself (the reference uses IF NOT EXISTS); executed against an
    * embedded Derby in `LoadSpec`.
    */
  def applyDdl(url: String, user: String, password: String, ddl: String): Unit = {
    val conn: Connection = DriverManager.getConnection(url, user, password)
    try {
      val st = conn.createStatement()
      splitStatements(ddl).foreach(st.execute)
    } finally conn.close()
  }

  /** K5 upsert statement, Postgres dialect — reference `etl/load.py:91-96`. */
  def upsertSql(table: String, keyCol: String, cols: Seq[String]): String = {
    val nonKey = cols.filterNot(_ == keyCol)
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON CONFLICT ($keyCol) DO UPDATE SET
       |${nonKey.map(c => s"$c = EXCLUDED.$c").mkString(", ")}""".stripMargin
  }

  /** K5 upsert statement, MERGE dialect for engines without ON CONFLICT
    * (Derby, DB2). Derby's MERGE source must be a base table, so this is
    * the one-row-dummy idiom (`SYSIBM.SYSDUMMY1`) with the row's values as
    * typed parameter markers (Derby requires the CASTs); the returned
    * column list is the marker binding order (key, non-keys, then the full
    * insert list). This is the dialect the executed-idempotence test runs
    * against an embedded Derby.
    */
  def mergeSql(table: String, keyCol: String, cols: Seq[String],
      sqlTypes: Map[String, String]): (String, Seq[String]) = {
    val nonKey = cols.filterNot(_ == keyCol)
    val sql =
      s"""MERGE INTO $table t
         |USING SYSIBM.SYSDUMMY1 d
         |ON t.$keyCol = CAST(? AS ${sqlTypes(keyCol)})
         |WHEN MATCHED THEN UPDATE SET ${nonKey.map(c => s"$c = CAST(? AS ${sqlTypes(c)})").mkString(", ")}
         |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
         |VALUES (${cols.map(c => s"CAST(? AS ${sqlTypes(c)})").mkString(", ")})""".stripMargin
    (sql, (keyCol +: nonKey) ++ cols)
  }

  /** K4 batch append via Spark's JDBC writer. `repartition`, not
    * `coalesce`: coalesce(n) would collapse the whole upstream stage to n
    * tasks; a shuffle barrier keeps upstream parallelism and only the
    * JDBC-writing stage is bounded to numPartitions connections.
    */
  def append(df: DataFrame, url: String, table: String,
      props: java.util.Properties, numPartitions: Int = 8): Unit =
    df.repartition(numPartitions).write.mode("append")
      .option("batchsize", 5000).jdbc(url, table, props)

  /** K5 upsert: per-partition batched statements. Executors open their own
    * connections; the driver never collects the data. The statement
    * defaults to the Postgres ON CONFLICT dialect (the reference's target
    * warehouse, markers in column order); pass `statement` = (sql, marker
    * binding order) to swap dialects ([[mergeSql]]).
    */
  def upsert(df: DataFrame, url: String, table: String, keyCol: String,
      user: String, password: String,
      statement: Option[(String, Seq[String])] = None): Unit = {
    val cols = df.columns.toSeq
    val (sql, paramCols) = statement.getOrElse((upsertSql(table, keyCol, cols), cols))
    val paramIdx = paramCols.map(cols.indexOf)
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn: Connection = DriverManager.getConnection(url, user, password)
        try {
          conn.setAutoCommit(false)
          val st = conn.prepareStatement(sql)
          var n = 0
          rows.foreach { r =>
            paramIdx.zipWithIndex.foreach { case (ci, p) =>
              st.setObject(p + 1, r.get(ci))
            }
            st.addBatch()
            n += 1
            if (n % 5000 == 0) st.executeBatch()
          }
          st.executeBatch()
          conn.commit()
        } finally conn.close()
      }
    }
  }

  /** K6/K7 — empty guard + count logging without an extra job: use
    * `df.isEmpty` (reads at most one row) rather than `count()`.
    */
  def loadIfNonEmpty(df: DataFrame, doLoad: DataFrame => Unit): Boolean =
    if (df.isEmpty) false else { doLoad(df); true }
}
