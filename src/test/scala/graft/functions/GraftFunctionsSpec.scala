package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.SparkSpec

/** [[GraftFunctions.register]] checks every name it defines, not one
  * sentinel: a session that already holds some graft functions but not
  * a newer one (a native kernel added after the session registered)
  * still gets the missing name, and a complete session is left as is.
  */
class GraftFunctionsSpec extends SparkSpec {

  test("register restores any missing name and keeps registered ones") {
    val reg = spark.sessionState.functionRegistry
    def exists(n: String) = reg.functionExists(FunctionIdentifier(n))
    GraftFunctions.register(spark)
    assert(GraftFunctions.names.forall(exists))
    assert(GraftFunctions.names.contains("graft_span_splice"))
    // a session that registered before the kernel existed: every other
    // name present, the sentinel the old guard checked included
    reg.dropFunction(FunctionIdentifier("graft_span_splice"))
    reg.dropFunction(FunctionIdentifier("graft_minhash_bands"))
    assert(exists("graft_extract_drug_details") && !exists("graft_span_splice"))
    GraftFunctions.register(spark)
    assert(GraftFunctions.names.forall(exists))
    val out = spark.sql(
      "SELECT graft_span_splice('abcdef', array(named_struct('s', 2L, 'e', 3L))) AS c")
      .selectExpr("c.n_spans", "c.n_chars_removed", "c.clean_text").head()
    assert(out.getLong(0) == 1L && out.getLong(1) == 2L && out.getString(2) == "adef")
  }
}
