package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** GraftExtensions registers every native expression for SQL use. */
class ExtensionsSpec extends SparkSpec {

  test("all graft functions resolve in SQL via GraftExtensions") {
    val base = spark // force base session creation first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      assert(s2.sql(
        "SELECT graft_qdot(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
        .head().getDouble(0) == 11.0)
      assert(s2.sql(
        "SELECT size(graft_shingles('a b c d', 3)) AS n")
        .head().getInt(0) == 2)
      assert(s2.sql(
        "SELECT size(graft_minhash_sig(graft_shingles('a b c d', 3), 4)) AS n")
        .head().getInt(0) == 4)
      assert(s2.sql(
        "SELECT graft_normalize_text('  A   B ') AS t")
        .head().getString(0) == "a b")
      assert(s2.sql(
        "SELECT size(graft_doc_pairs(array(1L, 2L, 3L))) AS n")
        .head().getInt(0) == 3)
      // 127/1 = 127 exactly: both elements quantize saturated, no error
      val i8 = s2.sql(
        "SELECT graft_int8_stats(array(1.0f, -1.0f)) AS st")
        .selectExpr("st.scale6", "st.n_sat", "st.max_err4").head()
      assert(i8.getDouble(0) == 127.0 && i8.getInt(1) == 2 &&
        i8.getDouble(2) == 0.0)
      // identical strings collide; the hash is 32-bit-ranged
      val ph = s2.sql(
        "SELECT graft_phash32('abcd efgh'), graft_phash32('abcd efgh')")
        .head()
      assert(ph.getLong(0) == ph.getLong(1) &&
        ph.getLong(0) >= 0L && ph.getLong(0) <= 0xFFFFFFFFL)
      assert(s2.sql("SELECT graft_milli_log10(1000L) AS m")
        .head().getLong(0) == 3000L)
      // '@@@@' hits the cut condition at position 1 (see TextExprsSpec)
      assert(s2.sql("SELECT graft_cdc_cuts('@@@@') AS c")
        .head().getSeq[Int](0) == Seq(1))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("GraftSession.attach registers functions on an existing session") {
    val s2 = spark.newSession()
    // the base session's GraftExtensions already fill every new session's
    // registry: drop what attach registers so only attach can restore it
    val registry = s2.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val attached = Seq("graft_qdot", "graft_normalize_text",
      "graft_shingles", "graft_phash32", "graft_milli_log10",
      "graft_cdc_cuts").map(FunctionIdentifier(_))
    attached.foreach(registry.dropFunction)
    assert(attached.forall(!registry.functionExists(_)))
    intercept[AnalysisException](
      s2.sql("SELECT graft_normalize_text('x') AS t").collect())
    GraftSession.attach(s2)
    assert(attached.forall(registry.functionExists))
    assert(s2.sql("SELECT graft_normalize_text(' X  y ') AS t")
      .head().getString(0) == "x y")
    assert(s2.sql(
      "SELECT graft_qdot(array(1.0f, 1.0f), array(2.0f, 2.0f)) AS d")
      .head().getDouble(0) == 4.0)
    assert(s2.sql("SELECT graft_milli_log10(100L) AS m")
      .head().getLong(0) == 2000L)
    assert(s2.sql("SELECT graft_phash32('') AS p").head().getLong(0) == 0L)
    // idempotent
    GraftSession.attach(s2)
  }
}
