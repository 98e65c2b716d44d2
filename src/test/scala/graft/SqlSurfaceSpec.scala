package graft

import org.scalatest.funsuite.AnyFunSuite

/** The custom expressions must work from plain SQL text (registered via
  * GraftFunctions), composing with views over the real tables. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("GraftExtensions injects the function set without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // would throw on signature drift
    // the names the extension injects equal the names register creates:
    // a fresh session holds the builtins plus the injected set
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val builtin = FunctionRegistry.builtin.listFunction().map(_.funcName).toSet
    def custom(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet -- builtin
    val injected = custom(spark.newSession())
    val bare = spark.newSession()
    injected.foreach(n =>
      bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    assert(custom(bare).isEmpty)
    GraftFunctions.register(bare)
    assert(injected.nonEmpty && custom(bare) == injected,
      s"injected $injected, registered ${custom(bare)}")
  }

  test("registerAll exposes the whole schema to arbitrary SQL") {
    graft.sources.Tables.registerAll(spark, sf)
    val r = spark.sql(
      """SELECT o_orderpriority, count(*) AS n
         FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         WHERE l_quantity > 40 GROUP BY o_orderpriority
         ORDER BY o_orderpriority""").collect()
    assert(r.nonEmpty && r.forall(_.getLong(1) > 0))
    // events registers through the nanosecond-safe reader
    assert(spark.sql("SELECT max(ts) FROM events").collect()(0)
      .getTimestamp(0) != null)
  }

  test("cosine_similarity / word_shingles / simhash16 from spark.sql") {
    GraftFunctions.register(spark)
    graft.sources.Tables.embeddings(spark, sf).createOrReplaceTempView("emb")
    graft.sources.Tables.documents(spark, sf).createOrReplaceTempView("docs")

    val knn = spark.sql(
      """SELECT e.vec_id, cosine_similarity(e.embedding, q.embedding) AS score
         FROM emb e, (SELECT embedding FROM emb WHERE vec_id = 0) q
         WHERE e.vec_id <> 0 ORDER BY score DESC, e.vec_id LIMIT 3""").collect()
    assert(knn.length == 3)
    val fromApi = SparkEntry.queries("q21_rag_topk")(spark, sf)
      .select("doc_id", "score").collect()
    assert(knn.map(_.getLong(0)).sameElements(fromApi.map(_.getLong(0))))
    assert(knn.map(_.getDouble(1)).sameElements(fromApi.map(_.getDouble(1))))

    val sh = spark.sql(
      """SELECT doc_id, size(word_shingles(text, 3)) AS n_sh,
                minhash_sig(word_shingles(text, 3), 2)[0] AS m0,
                simhash16(text) AS sim
         FROM docs ORDER BY doc_id LIMIT 5""").collect()
    assert(sh.length == 5)
    sh.foreach { r =>
      assert(r.getAs[Int]("n_sh") > 0)
      assert(r.getAs[String]("m0").matches("[0-9a-f]{32}"))
      assert(r.getAs[String]("sim").matches("[01]{16}"))
    }
  }

  test("srp_signature from spark.sql matches the Column API") {
    GraftFunctions.register(spark)
    graft.sources.Tables.embeddings(spark, sf).createOrReplaceTempView("emb2")
    val viaSql = spark.sql(
      "SELECT vec_id, srp_signature(embedding, 32, 64) AS sig FROM emb2 ORDER BY vec_id LIMIT 5")
      .collect()
    val viaApi = graft.sources.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        graft.plans.VectorExpressions.srpSignature(
          org.apache.spark.sql.functions.col("embedding"), 32, 64).as("sig"))
      .orderBy("vec_id").limit(5).collect()
    assert(viaSql.map(_.getString(1)).sameElements(viaApi.map(_.getString(1))))
  }

  test("graft_tokens / adjacent_pairs from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_tokens(' a  b c ') AS t, adjacent_pairs('a b a') AS p")
      .collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("t") == Seq("a", "b", "c"))
    assert(r.getAs[scala.collection.Seq[String]]("p") == Seq("a b", "b a"))
  }
}
