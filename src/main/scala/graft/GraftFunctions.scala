package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.plans.TextExpressions.{AdjacentPairs, MinHashSig, SimHash16, Tokens, WordShingles}
import graft.plans.{CosineSimilarity, SrpSignature}

/** SQL-surface registration for the engine's custom Catalyst expressions,
  * so `spark.sql` users get them as first-class functions:
  *
  * {{{
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  *
  * Idempotent per session (createOrReplace). Integer arguments must be
  * foldable literals (they parametrize the expression, not the row).
  * [[all]] is the one function table: [[register]] and [[GraftExtensions]]
  * both derive from it.
  */
object GraftFunctions {
  private def intArg(e: Expression): Int = {
    require(e.foldable, s"expected an integer literal, got non-constant $e")
    e.eval(null) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"expected an integer literal, got $other")
    }
  }

  /** (name, usage, builder) of every custom SQL function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", "_FUNC_(a, b) - cosine similarity of two float arrays",
      es => CosineSimilarity(es(0), es(1))),
    ("word_shingles", "_FUNC_(text, n) - distinct word n-gram shingles",
      es => WordShingles(es(0), intArg(es(1)))),
    ("minhash_sig", "_FUNC_(shingles, k) - k md5 MinHash components",
      es => MinHashSig(es(0), intArg(es(1)))),
    ("simhash16", "_FUNC_(text) - 16-bit SimHash bitstring",
      es => SimHash16(es(0))),
    ("graft_tokens", "_FUNC_(text) - whitespace tokens",
      es => Tokens(es(0))),
    ("adjacent_pairs", "_FUNC_(text) - adjacent token pairs, with multiplicity",
      es => AdjacentPairs(es(0))),
    ("srp_signature", "_FUNC_(vec, planes, dims) - sign-random-projection LSH bits",
      es => SrpSignature(es(0), intArg(es(1)), intArg(es(2)))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
