package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.{MinHasher, Rng}

/** Column-level functions of the engine.
  *
  * Design rule: built-in `org.apache.spark.sql.functions` (codegen'd) wherever
  * the semantics allow; compact Scala UDFs for the per-row signature kernels
  * where the built-in form (explode × k seeds → groupBy(min)) would cost a
  * k-fold shuffle blow-up (see SURVEY.md §2.a op #2). Each UDF does all k
  * lanes in one pass over the row — the same batching the reference gets from
  * BLAS (/root/reference/src/hashes/simhash.jl:131-140).
  */
object GraftFunctions extends Serializable {

  // ---------------------------------------------------------------- shingling

  /** Word n-gram shingles; split on single space KEEPING empty tokens
    * (parity with SQL string_split / Spark split semantics). */
  def wordNgrams(text: String, n: Int): Array[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) Array.empty
    else Array.tabulate(ws.length - n + 1)(i => ws.slice(i, i + n).mkString(" "))
  }

  def charNgrams(text: String, n: Int): Array[String] = {
    if (text.length < n) Array.empty
    else Array.tabulate(text.length - n + 1)(i => text.substring(i, i + n))
  }

  /** Distinct, unsigned-sorted 64-bit hashes of a doc's shingle set — the
    * MinHash input with SET semantics (/root/reference/src/hashes/minhash.jl:146-170).
    * Sorted so the verify kernel can single-pass merge. */
  def shingleHashSet(shingles: Array[String], seed: Long): Array[Long] = {
    val hs = new Array[Long](shingles.length)
    var i = 0
    while (i < shingles.length) { hs(i) = Rng.hashString(seed, shingles(i)); i += 1 }
    val distinct = hs.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }

  /** Word-n-gram shingle hash set computed WITHOUT materializing n-gram
    * strings: each word is hashed once, n-gram hash = mix-chain of the word
    * hashes. Same set semantics as [[shingleHashSet]]∘[[wordNgrams]] (equal
    * n-grams ⇒ equal hashes; collisions ≈ 2⁻⁶⁴) at a fraction of the
    * allocation rate — this is the hottest per-row loop in the pipeline. */
  def wordNgramHashSet(text: String, n: Int, seed: Long): Array[Long] = {
    val ws = text.split(" ", -1)
    if (ws.length < n) return Array.empty[Long]
    val wh = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { wh(i) = Rng.hashString(seed, ws(i)); i += 1 }
    val out = new Array[Long](ws.length - n + 1)
    i = 0
    while (i < out.length) {
      // ORDER-SENSITIVE chain: h2 remixes the accumulator before xoring the
      // next word hash. A plain mix64(h ^ w) is symmetric in its inputs, so
      // "a b" and "b a" would collide — caught by the DuckDB string oracle.
      var h = wh(i)
      var j = 1
      while (j < n) { h = Rng.hash2(h, wh(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    val distinct = out.distinct
    java.util.Arrays.sort(distinct)
    distinct
  }

  /** word-n-gram shingle hash set as a Column — REFERENCE form only since
    * round 5: the pipeline uses the codegen `graft_shingle_hashes`
    * expression (ShingleHashesExpr), pinned equal by CodegenStrictSpec. */
  def shingleHashesUdf(n: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) =>
      if (text == null) Array.empty[Long] else wordNgramHashSet(text, n, seed))

  // ------------------------------------------------------------- signatures

  /** MinHash signature: all k lanes in one pass (op #2 of SURVEY §2.a). */
  def minhashSigUdf(k: Int, seed: Long): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val hasher = MinHasher(k, seed)
    udf((shingles: Array[Long]) => if (shingles == null) null else hasher(shingles))
  }

  /** LSH band hashes: signature (length b·r) → b band keys, each a seeded
    * 64-bit combine of its r rows. OR-amplification across bands, AND within
    * (collision_probability^r per band, /root/reference/src/LSHBase.jl:130-160). */
  def bandHashes(sig: Array[Long], bands: Int, rows: Int, seed: Long): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Rng.derive(seed, 0x42414E44L /* "BAND" */ + b.toLong)
      var r = 0
      while (r < rows) { h = Rng.hash2(h, sig(b * rows + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  // (Text SimHash lives in CrossEngine.SimHash56 — the oracled md5-token
  // form used by SimHashDedup/NearDupStream; the vector form is
  // core.SimHasher. Band hashes run as the BandHashesExpr codegen
  // expression; the kernel fn below stays for the pure-Scala test oracles.)

  // ------------------------------------------------- embedding similarity

  /** Exact int64 dot product of quantized embeddings via built-ins only:
    * order-independent (integer adds), hence bit-reproducible across engines
    * and cluster sizes — floats summed in shuffle order are not.
    *
    * These built-in trees are REFERENCE forms only: Spark evaluates
    * higher-order functions interpreted (one boxed lambda call per element),
    * a plain CPU multiplier in corpus-wide prep at 100 TB. Queries use the
    * fused codegen kernels graft_quantize / graft_dot instead;
    * CrossEngineSpec pins kernel ≡ tree bitwise. */
  def quantize(col: Column, q: Int = 1000): Column =
    transform(col, e => round(e.cast("double") * q).cast("long"))

  def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Deterministic cosine on quantized vectors (exact ints → one sqrt/div).
    * This built-in tree is the REFERENCE form for the fused codegen kernel
    * graft_cosq (PlaneKernel.cosq) — CrossEngineSpec pins their bitwise
    * equality; queries use the kernel (higher-order fns run interpreted). */
  def cosineQuantized(a: Column, b: Column): Column =
    dotLong(a, b).cast("double") /
      (sqrt(dotLong(a, a).cast("double")) * sqrt(dotLong(b, b).cast("double")))
}
