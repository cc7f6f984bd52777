package graft.sources

import graft.runtime.Config
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

/** The JDBC wire contract the `graft-change` source reads under: dialect
  * session init and connection defaults from the registry, and a slice plan
  * whose bounds stay legal when a cycle has no new rows. */
class JdbcChangeSpec extends AnyFunSuite {

  private def conf(opts: (String, String)*): ChangeV2.Conf = {
    val m = new java.util.HashMap[String, String]()
    (Seq("url" -> "jdbc:sqlserver://db:1433", "table" -> "outbox") ++ opts)
      .foreach { case (k, v) => m.put(k, v) }
    ChangeV2.conf(new CaseInsensitiveStringMap(m))
  }

  test("mssql gets the reference's wire defaults; empty delta keeps bounds legal") {
    assert(conf("provider" -> "sqlserver").sessionInit
      .contains("SET TEXTSIZE 2147483647; SET ANSI_WARNINGS OFF"))
    val wire = Config.dialect("sqlserver").get.connectionDefaults
    assert(wire("Packet Size") == "32768", "SqlDialect.cs packet size default")
    assert(wire("Connect Timeout") == "30")
    assert(wire("Application Name") == "graft")
    // an empty delta plans no slice at all rather than a lo >= hi range;
    // a one-version delta plans exactly one slice with lo < hi
    assert(ChangeV2.slices(500L, 500L, 500L, 8).isEmpty)
    val one = ChangeV2.slices(500L, 501L, 502L, 8).map(_.asInstanceOf[ChangeSlice])
    assert(one.toSeq == Seq(ChangeSlice(500L, 501L, 502L)))
  }

  test("S1 JDBC flavor: dialect call templates and the single JSON parameter") {
    // the reference's two call shapes (SqlDialect.cs:52,70), resolved by alias
    assert(Config.dialect("SqlServer").map(_.callSql("dbo.sp_x"))
      .contains("EXEC dbo.sp_x @Parameter = ?"))
    assert(Config.dialect("pgsql").map(_.callSql("get_changes"))
      .contains("SELECT * FROM get_changes(?::jsonb)"))
    assert(Config.dialect("oracle").isEmpty)
    // each call binds exactly one placeholder: the shared JSON parameter
    Seq("SqlServer", "pgsql").foreach { p =>
      assert(Config.dialect(p).get.callSql("proc").count(_ == '?') == 1)
    }
  }
}
