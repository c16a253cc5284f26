package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import graft.core.Rng

/** Primitive kernels shared by the interpreted and generated code paths.
  * Operating directly on Catalyst ArrayData avoids the ScalaUDF round trip
  * (ArrayData → Seq[Long] boxing → Array → ArrayData) on the two hottest
  * per-row loops of the pipeline (SURVEY.md §4.2 "upgrade path"). */
object MinHashKernel {
  private val seedCache = new java.util.concurrent.ConcurrentHashMap[(Int, Long), Array[Long]]()

  def laneSeeds(k: Int, seed: Long): Array[Long] =
    seedCache.computeIfAbsent((k, seed), { case (kk, s) =>
      Array.tabulate(kk)(i => Rng.derive(s, 0x4D494E48L + i.toLong))
    })

  /** MinHash signature (unsigned-min semantics, empty set → all -1L). */
  def signature(shingles: ArrayData, k: Int, seed: Long): ArrayData = {
    val seeds = laneSeeds(k, seed)
    val n = shingles.numElements()
    val sig = new Array[Long](k)
    var i = 0
    while (i < k) {
      val s = seeds(i)
      var best = -1L
      var bestKey = Long.MaxValue
      var j = 0
      while (j < n) {
        val h = Rng.hash2(s, shingles.getLong(j))
        val key = Rng.unsignedKey(h)
        if (key < bestKey) { bestKey = key; best = h }
        j += 1
      }
      sig(i) = best
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Word-n-gram shingle hash set from raw text (null → empty set, like the
    * UDF form it replaces — a null-text doc must still produce a row with an
    * empty shingle set, not a null that poisons downstream columns). */
  def wordShingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int, seed: Long): ArrayData =
    if (text == null) new GenericArrayData(Array.empty[Long])
    else new GenericArrayData(GraftFunctions.wordNgramHashSet(text.toString, n, seed))

  /** Character-n-gram shingle hash set from raw text (null → empty set). */
  def charShingleHashes(text: org.apache.spark.unsafe.types.UTF8String,
      n: Int, seed: Long): ArrayData =
    if (text == null) new GenericArrayData(Array.empty[Long])
    else new GenericArrayData(
      GraftFunctions.shingleHashSet(GraftFunctions.charNgrams(text.toString, n), seed))

  /** Exact Jaccard over two sorted-distinct hash arrays, directly on
    * ArrayData (verify-stage ground truth; same merge as
    * Similarities.jaccardSorted, J(∅,∅)=0; null input → 0.0 like the UDF). */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    if (a == null || b == null) return 0.0
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** Primary doc-id lane: seeded 64-bit FNV/splitmix hash of the url
    * (DocIds.primaryHash — identical values to the ScalaUDF it replaces, so
    * existing docs checkpoints stay valid). Exact arity — a default arg
    * would leave Janino no matching method (the graft_lcs_len lesson). */
  def urlId(url: org.apache.spark.unsafe.types.UTF8String, seed: Long): Long =
    Rng.hashString(seed, url.toString)

  /** Collision-rehash lane: mixes the colliding id with an independent url
    * hash (DocIds rehash contract — assign and assignDisjoint must share it
    * or cross-increment ids diverge). */
  def rehashId(id: Long, url: org.apache.spark.unsafe.types.UTF8String): Long =
    Rng.hash2(id, Rng.hashString(0x5345434FL, url.toString))

  /** LSH band hashes from a k-lane signature (k = b·r). */
  def bands(sig: ArrayData, b: Int, r: Int, seed: Long): ArrayData = {
    val out = new Array[Long](b)
    var bi = 0
    while (bi < b) {
      var h = Rng.derive(seed, 0x42414E44L + bi.toLong)
      var ri = 0
      while (ri < r) { h = Rng.hash2(h, sig.getLong(bi * r + ri)); ri += 1 }
      out(bi) = h
      bi += 1
    }
    new GenericArrayData(out)
  }
}

/** Native codegen expression for the MinHash signature (same semantics as
  * GraftFunctions.minhashSigUdf; ~no boxing, stays inside WholeStageCodegen). */
case class MinHashSignatureExpr(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<bigint>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.signature($c, $k, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}

/** Native codegen expression for LSH band hashes. */
case class BandHashesExpr(child: Expression, b: Int, r: Int, seed: Long)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<bigint>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    MinHashKernel.bands(input.asInstanceOf[ArrayData], b, r, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashKernel.bands($c, $b, $r, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): BandHashesExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_band_hashes"
}

/** graft_shingle_hashes(text, n, seed) / graft_char_shingle_hashes: the
  * corpus-wide text → shingle-hash-set projection as a native codegen
  * expression — the LAST per-row UDF on the 100 TB signature path (VERDICT
  * r4 What's wrong #2). NOT null-propagating: null text → empty set, the
  * UDF contract the whole pipeline (and its checkpoints) was built on. */
case class ShingleHashesExpr(child: Expression, n: Int, seed: Long, charMode: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if n < 1 => TypeCheckResult.TypeCheckFailure(s"n must be ≥ 1, got $n")
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  private def kernel: String = if (charMode) "charShingleHashes" else "wordShingleHashes"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val t = child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    if (charMode) MinHashKernel.charShingleHashes(t, n, seed)
    else MinHashKernel.wordShingleHashes(t, n, seed)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.MinHashKernel.$kernel(
            ${c.isNull} ? null : ${c.value}, $n, ${seed}L);
      """
    ev.copy(code = code)
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
  override def prettyName: String =
    if (charMode) "graft_char_shingle_hashes" else "graft_shingle_hashes"
}

/** graft_url_id(url, seed): the doc-id url hash as a codegen expression —
  * the docs-ingest stage runs it once per corpus row (the last per-row
  * ScalaUDF on the 100 TB ingest path after round 5's shingle/signature
  * conversions). Null-propagating: a null url yields a null id (the UDF it
  * replaces NPE'd — null urls are invalid input either way; DocIds'
  * dropDuplicates keeps at most one such row). */
case class UrlIdExpr(child: Expression, seed: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    MinHashKernel.urlId(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernel.urlId($c, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): UrlIdExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_url_id"
}

/** graft_rehash_id(id, url): the collision-rehash lane (only evaluated for
  * colliding rows behind a `when` guard, but keeping it native keeps the
  * whole rehash projection inside one codegen stage). Null-propagating. */
case class RehashIdExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (LongType, org.apache.spark.sql.types.StringType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected (bigint, string), got $other")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(id: Any, url: Any): Any =
    MinHashKernel.rehashId(id.asInstanceOf[Long],
      url.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (id, url) => s"graft.functions.MinHashKernel.rehashId($id, $url)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RehashIdExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_rehash_id"
}

/** graft_jaccard_sorted(a, b): exact Jaccard of two sorted-distinct hash
  * arrays — the per-pair verify kernel as a codegen expression (null input
  * → 0.0, J(∅,∅)=0, matching the UDF it replaces). */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def check(dt: DataType): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected array<bigint>, got $other")
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = check(left.dataType)
    if (l != TypeCheckResult.TypeCheckSuccess) l else check(right.dataType)
  }
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input).asInstanceOf[ArrayData]
    val b = right.eval(input).asInstanceOf[ArrayData]
    MinHashKernel.jaccardSorted(a, b)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val code =
      code"""
        ${a.code}
        ${b.code}
        boolean ${ev.isNull} = false;
        double ${ev.value} = graft.functions.MinHashKernel.jaccardSorted(
          ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value});
      """
    ev.copy(code = code)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_jaccard_sorted"
}

/** graft_lcs_len(a, b): longest-common-substring length of the first
  * 20,000 UTF-16 code units of each side, via the linear-time suffix
  * automaton (core.SuffixArray) — per verified PAIR, not per corpus row,
  * so the win is uniformity (a UDF-free pipeline), not CPU. Null-propagating
  * (unreachable in the pipeline: null-text docs have empty shingle sets and
  * never pass the Jaccard threshold). */
case class LcsLenExpr(left: Expression, right: Expression) extends BinaryExpression {
  private def check(dt: DataType): TypeCheckResult = dt match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = check(left.dataType)
    if (l != TypeCheckResult.TypeCheckSuccess) l else check(right.dataType)
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.core.SuffixArray.lcsLength(a.toString, b.toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.core.SuffixArray.lcsLength($a.toString(), $b.toString())")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsLenExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_lcs_len"
}

/** Session registration so the expressions are reachable from the Column API
  * (via call_function) and SQL. Idempotent. */
object GraftExpressions {
  private def lit2Int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def lit2Long(e: Expression): Long = e.eval().asInstanceOf[Number].longValue()
  private def lit2Str(e: Expression): String = e.eval().toString

  /** Every graft_* function: (name, builder). */
  private[graft] val Builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash_sig" ->
      (e => MinHashSignatureExpr(e(0), lit2Int(e(1)), lit2Long(e(2)))),
    "graft_band_hashes" ->
      (e => BandHashesExpr(e(0), lit2Int(e(1)), lit2Int(e(2)), lit2Long(e(3)))),
    "graft_shingle_hashes" ->
      (e => ShingleHashesExpr(e(0), lit2Int(e(1)), lit2Long(e(2)), charMode = false)),
    "graft_char_shingle_hashes" ->
      (e => ShingleHashesExpr(e(0), lit2Int(e(1)), lit2Long(e(2)), charMode = true)),
    "graft_url_id" -> (e => UrlIdExpr(e(0), lit2Long(e(1)))),
    "graft_rehash_id" -> (e => RehashIdExpr(e(0), e(1))),
    "graft_jaccard_sorted" -> (e => JaccardSortedExpr(e(0), e(1))),
    "graft_lcs_len" -> (e => LcsLenExpr(e(0), e(1))),
    // 3-arg form = offset 0; 4-arg form = (v, tag, off, n) for multi-table
    // plane layouts (table t reads global planes [t·b, (t+1)·b))
    "graft_plane_bits" -> (e =>
      if (e.length == 4) PlaneBitsExpr(e(0), lit2Str(e(1)), lit2Int(e(2)), lit2Int(e(3)))
      else PlaneBitsExpr(e(0), lit2Str(e(1)), 0, lit2Int(e(2)))),
    "graft_plane_dots" -> (e =>
      if (e.length == 4) PlaneDotsExpr(e(0), lit2Str(e(1)), lit2Int(e(2)), lit2Int(e(3)))
      else PlaneDotsExpr(e(0), lit2Str(e(1)), 0, lit2Int(e(2)))),
    "graft_cosq" -> (e => CosineQuantizedExpr(e(0), e(1))),
    "graft_md5_minhash" -> (e => Md5MinHashExpr(e(0), lit2Int(e(1)))),
    "graft_md5_minhash_text" ->
      (e => Md5MinHashTextExpr(e(0), lit2Int(e(1)), lit2Int(e(2)))),
    "graft_simhash56" -> (e => SimHash56Expr(e(0))),
    // 1-arg form = the engine-wide 1e3 embedding quantum
    "graft_quantize" -> (e =>
      if (e.length == 2) QuantizeExpr(e(0), lit2Long(e(1))) else QuantizeExpr(e(0), 1000L)),
    "graft_dot" -> (e => DotLongExpr(e(0), e(1))),
    "graft_hamming_sum" -> (e => HammingSumExpr(e(0), e(1))),
    // centroids + norms are plan-time literal arrays (foldability checked by
    // the expression's own type check, like graft_lex_count)
    "graft_ivf_argmax" -> (e => IvfArgmaxExpr(e(0), e(1), e(2))),
    // lexicon = plan-time literal array of words (foldability is checked by
    // the expression's own type check — an analysis error, not a builder
    // crash, when a column is passed; ADVICE r4)
    "graft_lex_count" -> (e => LexCountExpr(e(0), e(1))),
    "graft_len_sum" -> (e => LenSumExpr(e(0))),
    // winnowing fingerprints: md5 gate form (3-arg) and seeded rolling-hash
    // production form (4-arg)
    "graft_winnow_md5" ->
      (e => WinnowExpr(e(0), lit2Int(e(1)), lit2Int(e(2)), 0L, md5Mode = true)),
    "graft_winnow" ->
      (e => WinnowExpr(e(0), lit2Int(e(1)), lit2Int(e(2)), lit2Long(e(3)), md5Mode = false)),
    // word-gram string arrays + the fused per-row repetition statistics
    // (sub-document dedup / Gopher repetition signals — round 6)
    "graft_word_ngrams" -> (e => WordGramsExpr(e(0), lit2Int(e(1)), blockMode = false)),
    "graft_word_blocks" -> (e => WordGramsExpr(e(0), lit2Int(e(1)), blockMode = true)),
    "graft_rep_stats" -> (e => RepStatsExpr(e(0), lit2Int(e(1)), lit2Int(e(2)))))

  /** Registers each name the session does not already resolve. register()
    * is called defensively at every entry point, and re-registering an
    * existing name logs a "function replaced" warning — thousands of lines
    * per bench/test run (VERDICT r6 #5). Checking every name, not one
    * sentinel, also restores a set that lost any single member. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, build) <- Builders
        if !registry.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, build, "built-in")
  }
}
