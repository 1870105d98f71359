package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft._

/** SparkSessionExtensions entry point: registers the native expressions as
  * SQL functions so `spark.sql("SELECT dot_f32(a, b) ...")` works anywhere
  * the DataFrame helpers do. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (done by
  * Verify/Bench/tests) or `--conf spark.sql.extensions=graft.GraftExtensions`
  * on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }
  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be a long literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules: idiomatic HOF shapes → native expressions; narrow
    // scans fanned out before per-row kernels
    ext.injectOptimizerRule(_ => NativizeHofRule)
    ext.injectPreCBORule(ScanFanoutRule)

    def register(name: String, usage: String)(b: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name, usage), b))

    register("dot_f32", "dot_f32(a, b) - double dot product of float arrays") {
      args => DotF32(args(0), args(1))
    }
    register("simhash32", "simhash32(tokens) - 32-bit md5 simhash") {
      args => Simhash32Expr(args(0))
    }
    register("minhash_sig",
      "minhash_sig(hashes, k[, seed]) - k-minima minhash signature") { args =>
      MinHashSigExpr(args(0), intArg(args(1), "k"),
        args.lift(2).map(longArg(_, "seed")).getOrElse(42L))
    }
    register("md5_prefix_long",
      "md5_prefix_long(s, hexDigits) - md5 prefix as long") { args =>
      Md5PrefixLong(args(0), intArg(args(1), "hexDigits"))
    }
    register("md5_prefix_all",
      "md5_prefix_all(arr, hexDigits) - md5 prefixes of a string array") { args =>
      Md5PrefixAll(args(0), intArg(args(1), "hexDigits"))
    }
    register("shingles", "shingles(tokens, w) - w-token shingles") { args =>
      ShinglesExpr(args(0), intArg(args(1), "w"))
    }
    register("shingle_md5_prefixes",
      "shingle_md5_prefixes(toks, w, hexDigits) - distinct md5 prefixes of w-token shingles") { args =>
      ShingleMd5PrefixExpr(args(0), intArg(args(1), "w"), intArg(args(2), "hexDigits"))
    }
    register("shingle_md5_bottom_k",
      "shingle_md5_bottom_k(toks, w, k) - k smallest distinct shingle md5 hexes") { args =>
      ShingleMd5BottomKExpr(args(0), intArg(args(1), "w"), intArg(args(2), "k"))
    }
    register("lsh_min_sig",
      "lsh_min_sig(shs, nPerms) - per permutation p, min md5 hex of p:shingle") { args =>
      LshMinSigExpr(args(0), intArg(args(1), "nPerms"))
    }
    register("double_cents",
      "double_cents(x[, scale]) - exact minor units of a double at DECIMAL(18,scale)") { args =>
      DoubleCentsExpr(args(0), args.lift(1).map(intArg(_, "scale")).getOrElse(2))
    }
    register("redact",
      "redact(s) - STRUCT(redacted, n_emails, n_nums): one-pass email/digit-run PII scrub") {
      args => RedactExpr(args(0))
    }
    register("year_extract",
      "year_extract(s) - leftmost \\b(19[5-9]\\d|20\\d{2})\\b match, '' when absent") {
      args => YearExtractExpr(args(0))
    }
    register("lower_alnum_run_count",
      "lower_alnum_run_count(s) - count of maximal [a-z0-9]+ runs") {
      args => CharClassRunCountExpr(args(0))
    }
    register("json_int_field",
      "json_int_field(s, key) - top-level INT field of a JSON object (from_json parity)") { args =>
      args(1) match {
        case Literal(k: org.apache.spark.unsafe.types.UTF8String, _) =>
          JsonIntFieldExpr(args(0), k.toString)
        case other => throw new IllegalArgumentException(
          s"key must be a string literal, got $other")
      }
    }
    register("shingle_stats",
      "shingle_stats(toks, w) - STRUCT(n_shingles, n_uniq) of w-token shingles") { args =>
      ShingleStatsExpr(args(0), intArg(args(1), "w"))
    }
    register("distinct_sorted_prefix",
      "distinct_sorted_prefix(arr, k) - STRUCT(n_distinct, prefix): distinct count + k smallest") { args =>
      DistinctSortedPrefixExpr(args(0), intArg(args(1), "k"))
    }
    register("hrefs",
      "hrefs(html) - anchor-tag href values in document order (S1 listing parse)") {
      args => HrefsExpr(args(0))
    }
    register("best_anchor",
      "best_anchor(emb, anchors) - STRUCT(score, anchor_id): highest-cosine anchor of a row-resident codebook") {
      args => BestAnchor(args(0), args(1))
    }
  }
}
