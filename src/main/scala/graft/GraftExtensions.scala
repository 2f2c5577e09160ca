package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{Fingerprint64, TextHashes, VectorOps}

/** Session-extension entry point: registers every graft native function
  * for SQL use. Users opt in with
  * `spark.sql.extensions=graft.GraftExtensions` (or `.withExtensions` on
  * the builder) — the idiomatic Spark route for a library's function
  * surface; nothing here mutates global state.
  *
  * All functions are thin builders over the codegen expressions in
  * `graft.functions`; static parameters (permutation counts, band sizes)
  * must be foldable integer literals, mirroring how builtins like
  * `approx_count_distinct(col, rsd)` take literal tuning args.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def arity(exprs: Seq[Expression], atLeast: Int, name: String): Unit =
    if (exprs.length < atLeast) throw new IllegalArgumentException(
      s"$name expects at least $atLeast argument(s), got ${exprs.length}")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, org.apache.spark.sql.types.BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator plans (GraftAsOf.join also self-registers its
    // strategy per session for users without the extension)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)

    def reg(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage), builder))

    reg("fingerprint64", "fingerprint64(str) - 64-bit FNV-1a fingerprint") {
      exprs => arity(exprs, 1, "fingerprint64"); Fingerprint64(exprs.head)
    }
    reg("simhash64", "simhash64(tokens) - 64-bit SimHash over token array") {
      exprs => arity(exprs, 1, "simhash64"); TextHashes.SimHash64(exprs.head)
    }
    reg("minhash_sig",
      "minhash_sig(hashes, numPerms) - MinHash signature over shingle hashes") {
      exprs => arity(exprs, 2, "minhash_sig")
        TextHashes.MinHashSig(exprs(0), intLit(exprs(1), "numPerms"))
    }
    reg("shingle_hash64",
      "shingle_hash64(text, tokens, k[, emptyIfShort]) - distinct hashed word k-grams") {
      exprs => arity(exprs, 3, "shingle_hash64")
        TextHashes.ShingleHash64(exprs(0), exprs(1),
          intLit(exprs(2), "k"),
          if (exprs.length > 3) boolLit(exprs(3), "emptyIfShort") else false)
    }
    reg("cosine_sim", "cosine_sim(a, b) - cosine similarity of float vectors") {
      exprs => arity(exprs, 2, "cosine_sim"); VectorOps.CosineSim(exprs(0), exprs(1))
    }
    reg("l2norm", "l2norm(a) - L2 norm of a float vector") {
      exprs => arity(exprs, 1, "l2norm"); VectorOps.L2Norm(exprs.head)
    }
    reg("srp_bucket_ids",
      "srp_bucket_ids(emb, numTables, planesPerTable, dims) - SRP-LSH bucket per table") {
      exprs => arity(exprs, 4, "srp_bucket_ids")
        VectorOps.SrpBucketIds(exprs.head,
          intLit(exprs(1), "numTables"), intLit(exprs(2), "planesPerTable"),
          intLit(exprs(3), "dims"))
    }
    reg("sign_bits64",
      "sign_bits64(emb) - 1-bit sign quantization of a float vector into one long") {
      exprs => arity(exprs, 1, "sign_bits64"); VectorOps.SignBits64(exprs.head)
    }
    reg("cms_estimate",
      "cms_estimate(sketch, term) - count-min sketch frequency estimate") {
      exprs => arity(exprs, 2, "cms_estimate")
        graft.functions.CmsEstimate(exprs(0), exprs(1))
    }
  }
}
