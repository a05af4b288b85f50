package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{CosineSim, DeflateLen, DotProduct, L2Norm, MinHashSig, QuantizeInt8, ShingleHashes, SigEqFrac, SimHash64, Winnow, WordGramBuckets, WordNGramHashes}

/** Session extension registering the native sketch/vector expressions as
  * SQL functions, so the whole native surface is reachable from
  * spark.sql(...) and PRQL s-strings — a `--sql` user gets the same
  * codegen'd kernels as the Scala API:
  *
  *   graft.GraftSession.builder(master, partitions) ... // installs this
  *   spark.sql("SELECT simhash64(text), minhash_sig(text, 5, 64) FROM docs")
  *   spark.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  *   spark.sql("SELECT quantize_int8(embedding).* FROM embeddings")
  *
  * Defaults stay in sync with the graft.ops callers (winnowPairs,
  * shinglePairs, dupSpans, dsirWeights).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def register(ext: SparkSessionExtensions, name: String, clazz: Class[_])
                      (builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    register(ext, "minhash_sig", classOf[MinHashSig]) {
      case Seq(text, n, k) => MinHashSig(text, intLit(n, "shingleSize"), intLit(k, "numHashes"))
      case Seq(text)       => MinHashSig(text, 5, 64)
      case _ => throw new IllegalArgumentException("minhash_sig(text[, shingleSize, numHashes])")
    }
    register(ext, "simhash64", classOf[SimHash64]) {
      case Seq(text) => SimHash64(text)
      case _ => throw new IllegalArgumentException("simhash64(text)")
    }
    register(ext, "winnow", classOf[Winnow]) {
      case Seq(text, k, w) => Winnow(text, intLit(k, "k"), intLit(w, "w"))
      case Seq(text)       => Winnow(text, 10, 6) // keep in sync with Dedup.winnowPairs defaults
      case _ => throw new IllegalArgumentException("winnow(text[, k, w])")
    }
    register(ext, "cosine_sim", classOf[CosineSim]) {
      case Seq(a, b) => CosineSim(a, b)
      case _ => throw new IllegalArgumentException("cosine_sim(vecA, vecB)")
    }
    register(ext, "vec_dot", classOf[DotProduct]) {
      case Seq(a, b) => DotProduct(a, b)
      case _ => throw new IllegalArgumentException("vec_dot(vecA, vecB)")
    }
    register(ext, "vec_l2norm", classOf[L2Norm]) {
      case Seq(v) => L2Norm(v)
      case _ => throw new IllegalArgumentException("vec_l2norm(vec)")
    }
    register(ext, "sig_eq_frac", classOf[SigEqFrac]) {
      case Seq(a, b) => SigEqFrac(a, b)
      case _ => throw new IllegalArgumentException("sig_eq_frac(sigA, sigB)")
    }
    register(ext, "quantize_int8", classOf[QuantizeInt8]) {
      // strict arity: silently dropping an extra arg would let a user
      // believe a parameter (a bucket count, a scale) took effect
      case Seq(v) => QuantizeInt8(v)
      case _ => throw new IllegalArgumentException("quantize_int8(vec)")
    }
    register(ext, "shingle_hashes", classOf[ShingleHashes]) {
      case Seq(text, n) => ShingleHashes(text, intLit(n, "n"))
      case Seq(text)    => ShingleHashes(text, 5) // the minhash shingle default
      case _ => throw new IllegalArgumentException("shingle_hashes(text[, n])")
    }
    register(ext, "word_ngram_hashes", classOf[WordNGramHashes]) {
      case Seq(text, n) => WordNGramHashes(text, intLit(n, "n"))
      case Seq(text)    => WordNGramHashes(text, 5) // the dupSpans gram default
      case _ => throw new IllegalArgumentException("word_ngram_hashes(text[, n])")
    }
    register(ext, "word_gram_buckets", classOf[WordGramBuckets]) {
      case Seq(text, n) => WordGramBuckets(text, intLit(n, "nBuckets"))
      case Seq(text)    => WordGramBuckets(text, 1024) // the dsirWeights default
      case _ => throw new IllegalArgumentException("word_gram_buckets(text[, nBuckets])")
    }
    register(ext, "deflate_len", classOf[DeflateLen]) {
      case Seq(text) => DeflateLen(text)
      case _ => throw new IllegalArgumentException("deflate_len(text)")
    }
    // rank-bounded mixed windows prune to the per-group prefix before the
    // window exchange (the q10 `window rolling + row_number + filter rn<=k`
    // lowering) — see RankLimitPrunesLookbackWindow
    ext.injectOptimizerRule(_ => RankLimitPrunesLookbackWindow)
  }
}
