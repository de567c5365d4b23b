package graft.io

import graft.SparkTestBase
import graft.config.SourceConfig

/**
 * The JDBC loader surface ([[Jdbc]], reference internal/io/postgres.go)
 * exercised for REAL against embedded Derby — the JDBC engine that
 * ships on Spark's own classpath. No Postgres driver exists in this
 * environment, but every loader semantic the reference defines is
 * database-agnostic and verifiable here: $1..$N placeholders bound in
 * ALPHABETICAL field order, per-transaction batching, preload/postload
 * command lists each in their own transaction, the bulk (COPY-role)
 * writer, and the arbitrary-SQL scan. Only the Postgres wire dialect
 * itself remains environment-dormant.
 */
class JdbcDerbySpec extends SparkTestBase with graft.TempDirs {
  import spark.implicits._

  private def url(db: String) = s"jdbc:derby:memory:$db;create=true"

  private def queryAll(u: String, sql: String): Seq[Seq[Any]] = {
    val conn = java.sql.DriverManager.getConnection(u)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(rs.getObject)
      out.toSeq
    } finally conn.close()
  }

  test("runCommands: each command in its own transaction; failure rolls back only its own") {
    val u = url("cmds")
    Jdbc.runCommands(u, Seq(
      "CREATE TABLE pre (k INT, v VARCHAR(20))",
      "INSERT INTO pre VALUES (1, 'one')"))
    // second list: first command lands (own txn), second fails
    val e = intercept[Exception](Jdbc.runCommands(u, Seq(
      "INSERT INTO pre VALUES (2, 'two')",
      "INSERT INTO nope VALUES (3)")))
    assert(e.getMessage != null)
    assert(queryAll(u, "SELECT k FROM pre ORDER BY k").map(_.head) == Seq(1, 2))
  }

  test("customSqlLoad: $N binds in ALPHABETICAL field order, batched per transaction") {
    val u = url("custom")
    Jdbc.runCommands(u, Seq("CREATE TABLE t (name VARCHAR(30), amount INT)"))
    // df columns deliberately NOT alphabetical: sorted order is (amount, bname)
    // -> $1 = amount, $2 = bname (postgres.go's documented contract)
    val df = Seq((10, "x"), (20, "y"), (30, "z")).toDF("amount", "bname")
    Jdbc.customSqlLoad(df, u,
      "INSERT INTO t (name, amount) VALUES ($2, $1)", batchSize = 2)
    assert(queryAll(u, "SELECT name, amount FROM t ORDER BY amount")
      == Seq(Seq("x", 10), Seq("y", 20), Seq("z", 30)))
  }

  test("bulkLoad (COPY role) + postgres-type scan round-trip through Spark's JDBC source") {
    val u = url("bulk")
    Jdbc.runCommands(u, Seq("CREATE TABLE items (id INT, label VARCHAR(20))"))
    Jdbc.bulkLoad(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "label"),
      u, "items", batchSize = 2)
    // the reference's arbitrary-SQL source (postgres.go scan role)
    val back = Readers.read(spark, SourceConfig(`type` = "postgres",
      query = "SELECT id, label FROM items WHERE id >= 2", conn = u))
    assert(back.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      == Seq((2, "b"), (3, "c")))
  }

  test("playbook e2e: csv source -> postgres-type destination with custom-SQL loader") {
    val u = url("e2e")
    Jdbc.runCommands(u, Seq("CREATE TABLE sink (id INT, uname VARCHAR(30))"))
    val tmp = tempDir("graft_jdbc").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/in.csv"),
      "id,uname\n1,ada\n2,bob\n".getBytes("UTF-8"))
    val yaml = s"""
      |source:
      |  type: csv
      |  file: $tmp/in.csv
      |destination:
      |  type: postgres
      |  conn: $u
      |  table: sink
      |  loader:
      |    command: "INSERT INTO sink (id, uname) VALUES ($$1, $$2)"
      |    batch_size: 10
      |mappings:
      |  - {source: id, target: id, transform: mustToInt}
      |  - {source: uname, target: uname}
      |""".stripMargin
    val cfg = s"$tmp/pb.yaml"
    java.nio.file.Files.write(java.nio.file.Paths.get(cfg), yaml.getBytes("UTF-8"))
    graft.cli.Main.run(spark, graft.cli.Main.Args(config = cfg))
    assert(queryAll(u, "SELECT id, uname FROM sink ORDER BY id")
      == Seq(Seq(1, "ada"), Seq(2, "bob")))
  }
}
