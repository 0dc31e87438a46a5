package graft

import java.sql.DriverManager

import graft.etl.Load

/** EXECUTED JDBC sink coverage (reference `etl/load.py:81-109` semantics):
  * the per-partition batched upsert runs against an embedded Derby — real
  * connections from executor threads, not SQL-string assertions — and must
  * be idempotent (re-applying a batch changes nothing) with non-key columns
  * updated on conflict.
  */
class LoadSpec extends SparkSpec {

  // unique in-memory DB per run: Derby memory DBs persist for the JVM's
  // lifetime, so a fixed name would collide on a same-JVM re-run
  private val url = s"jdbc:derby:memory:upsertdb${System.nanoTime()};create=true"

  private def readAll(): List[(Int, String, String)] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT customer_id, customer_name, region FROM customers ORDER BY customer_id")
      val buf = scala.collection.mutable.ListBuffer.empty[(Int, String, String)]
      while (rs.next()) buf += ((rs.getInt(1), rs.getString(2), rs.getString(3)))
      buf.toList
    } finally conn.close()
  }

  test("DDL apply executes a multi-statement script with comments") {
    val ddlUrl = s"jdbc:derby:memory:ddldb${System.nanoTime()};create=true"
    Load.applyDdl(ddlUrl, "", "",
      """-- sales fact
        |CREATE TABLE sales_ddl (order_id INT, total_price DECIMAL(10,2));
        |-- ranking table
        |CREATE TABLE ranking_ddl (product_id VARCHAR(50), rank_position INT);
        |""".stripMargin)
    val conn = DriverManager.getConnection(ddlUrl)
    try {
      conn.createStatement().execute(
        "INSERT INTO sales_ddl VALUES (1, 9.99)")
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM sales_ddl")
      rs.next()
      assert(rs.getInt(1) == 1)
      val rs2 = conn.createStatement().executeQuery("SELECT COUNT(*) FROM ranking_ddl")
      rs2.next()
      assert(rs2.getInt(1) == 0)
    } finally conn.close()
  }

  test("DDL splitter survives semicolons in literals and trailing comments") {
    val ddlUrl = s"jdbc:derby:memory:tokdb${System.nanoTime()};create=true"
    Load.applyDdl(ddlUrl, "", "",
      """CREATE TABLE notes_ddl (   -- trailing comment; with a semicolon
        |  id INT,
        |  note VARCHAR(20) DEFAULT 'a;b -- not a comment'
        |);
        |INSERT INTO notes_ddl (id) VALUES (7);""".stripMargin)
    val conn = DriverManager.getConnection(ddlUrl)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT id, note FROM notes_ddl")
      assert(rs.next())
      assert(rs.getInt(1) == 7)
      assert(rs.getString(2) == "a;b -- not a comment")
    } finally conn.close()
  }

  test("truncate-reload cycle executes: load, truncate, reload, counts stable") {
    val tUrl = s"jdbc:derby:memory:truncdb${System.nanoTime()};create=true"
    Load.applyDdl(tUrl, "", "",
      "CREATE TABLE reload_t (order_id INT, total_price DECIMAL(10,2))")
    val sess = spark
    import sess.implicits._
    val df = Seq((1, BigDecimal("9.99")), (2, BigDecimal("5.00")),
      (3, BigDecimal("1.25"))).toDF("order_id", "total_price")
    def count(): Long = {
      val conn = DriverManager.getConnection(tUrl)
      try {
        val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM reload_t")
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
    val props = new java.util.Properties()
    Load.reload(df, tUrl, "reload_t", props, numPartitions = 2)
    assert(count() == 3)
    // K3: a second load truncates first — the reference's idempotent
    // full-refresh, not an append that doubles the table
    Load.reload(df, tUrl, "reload_t", props, numPartitions = 2)
    assert(count() == 3)
  }

  test("streaming upsert sink is idempotent across full replays (Derby)") {
    import java.nio.file.Files
    val sUrl = s"jdbc:derby:memory:streamdb${System.nanoTime()};create=true"
    graft.etl.Load.applyDdl(sUrl, "", "",
      """CREATE TABLE events_sink (event_id BIGINT PRIMARY KEY,
        |event_type VARCHAR(40), user_id BIGINT)""".stripMargin)
    val types = Map("event_id" -> "BIGINT",
      "event_type" -> "VARCHAR(40)", "user_id" -> "BIGINT")
    val merge = Some(Load.mergeSql("events_sink", "event_id",
      Seq("event_id", "event_type", "user_id"), types))
    val (stagedPath, schema) = graft.streaming.Streams.stageEvents(spark, sf)
    def runOnce(): Unit = {
      val ss = graft.streaming.Streams.streamingSession(spark)
      val q = graft.streaming.Streams.upsertSink(
        ss.readStream.schema(schema).parquet(stagedPath)
          .select("event_id", "event_type", "user_id"),
        sUrl, "events_sink", "event_id", "", "", merge,
        Files.createTempDirectory("graft_upsink_ck_").toString)
      q.awaitTermination()
    }
    def count(): Long = {
      val conn = DriverManager.getConnection(sUrl)
      try {
        val rs = conn.createStatement().executeQuery(
          "SELECT COUNT(*) FROM events_sink")
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
    val total = graft.etl.Tables.events(spark, sf).count()
    runOnce()
    assert(count() == total, "first replay loads every event exactly once")
    // a FRESH checkpoint reprocesses everything — the at-least-once case
    // the key-idempotent upsert must absorb without duplicates
    runOnce()
    assert(count() == total, "full re-delivery must not duplicate rows")
  }

  test("upsert executes against an embedded DB, updates on conflict, idempotent") {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE customers (customer_id INT PRIMARY KEY,
        |customer_name VARCHAR(100), region VARCHAR(50))""".stripMargin)
    finally conn.close()

    val sess = spark
    import sess.implicits._
    val cols = Seq("customer_id", "customer_name", "region")
    val types = Map("customer_id" -> "INT",
      "customer_name" -> "VARCHAR(100)", "region" -> "VARCHAR(50)")
    val merge = Some(Load.mergeSql("customers", "customer_id", cols, types))
    assert(merge.get._2 == Seq("customer_id", "customer_name", "region",
      "customer_id", "customer_name", "region"))

    val v1 = Seq((1, "alice", "EUROPE"), (2, "bob", "ASIA"), (3, "carol", "AFRICA"))
      .toDF(cols: _*)
    Load.upsert(v1.repartition(2), url, "customers", "customer_id", "", "", merge)
    assert(readAll() ==
      List((1, "alice", "EUROPE"), (2, "bob", "ASIA"), (3, "carol", "AFRICA")))

    // conflicting keys update non-key columns; new keys insert
    val v2 = Seq((2, "bob", "EUROPE"), (4, "dave", "ASIA")).toDF(cols: _*)
    Load.upsert(v2.repartition(2), url, "customers", "customer_id", "", "", merge)
    val expected = List((1, "alice", "EUROPE"), (2, "bob", "EUROPE"),
      (3, "carol", "AFRICA"), (4, "dave", "ASIA"))
    assert(readAll() == expected)

    // re-applying the same batch is a no-op (retried-task safety)
    Load.upsert(v2.repartition(2), url, "customers", "customer_id", "", "", merge)
    assert(readAll() == expected)
  }

  test("upsert last-write-wins for duplicate keys WITHIN one batch (MERGE dialect)") {
    // A CDC-shaped batch can carry the same key more than once. JDBC
    // batch entries execute in statement order, so within one partition
    // the LAST row must win (first MERGE inserts, later ones match +
    // update) — the one ON CONFLICT semantic the Postgres string test
    // cannot pin without a live Postgres. Single partition via
    // coalesce(1) (a narrow dependency, so local-Seq order is preserved):
    // duplicate keys ACROSS partitions race by design — a caller with
    // cross-partition duplicates must pre-dedup (f1's keep-first) or
    // repartition by key, which is the documented Load contract.
    val sess = spark
    import sess.implicits._
    val cols = Seq("customer_id", "customer_name", "region")
    val types = Map("customer_id" -> "INT",
      "customer_name" -> "VARCHAR(100)", "region" -> "VARCHAR(50)")
    val merge = Some(Load.mergeSql("customers", "customer_id", cols, types))
    val batch = Seq((10, "eve", "ASIA"), (10, "eve", "EUROPE"),
      (11, "frank", "AFRICA"), (10, "eve", "AMERICA"))
      .toDF(cols: _*).coalesce(1)
    Load.upsert(batch, url, "customers", "customer_id", "", "", merge)
    val after = readAll().filter(_._1 >= 10)
    assert(after == List((10, "eve", "AMERICA"), (11, "frank", "AFRICA")),
      s"last write in batch order must win: $after")
    // and the dup-carrying batch stays idempotent on replay
    Load.upsert(batch, url, "customers", "customer_id", "", "", merge)
    assert(readAll().filter(_._1 >= 10) ==
      List((10, "eve", "AMERICA"), (11, "frank", "AFRICA")))
  }
}
