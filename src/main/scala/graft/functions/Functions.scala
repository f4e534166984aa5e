package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.parse.Typo

/** The row-level body of [[FixTyposExpr]], shared by interpreted eval and
  * generated code: a text the cascade leaves unchanged comes back as the
  * input `UTF8String` itself, with no re-encode.
  */
object TypoRuntime {
  def fix(in: UTF8String): UTF8String = {
    val s = in.toString
    val out = Typo.fixTypos(s)
    if (out eq s) in else UTF8String.fromString(out)
  }
}

/** `fix_typos` as a native Catalyst expression (SURVEY.md §2.10 / §4's
  * optional codegen-friendly hot path).
  *
  * The heavy lifting stays in the pooled `graft.parse.Typo` kernel (compiled
  * regexes are JVM singletons, matchers are pooled per thread); `doGenCode`
  * emits a static call to [[TypoRuntime]] so the expression participates in
  * WHOLE-STAGE CODEGEN instead of falling back to interpreted eval —
  * preference tier (b) of the custom-operator ladder: compose built-ins >
  * custom Expression > custom plan node > mapPartitions.
  */
case class FixTyposExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  // analysis-time type validation: a non-string argument must fail with a
  // clear error, not a per-row ClassCastException / codegen compile failure
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "fix_typos"

  override def nullSafeEval(input: Any): Any =
    TypoRuntime.fix(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TypoRuntime.fix($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash of a text as a native expression (same codegen story as
  * [[FixTyposExpr]]: the algorithm lives in `graft.ops.Dedup.simhash64`, the
  * generated code emits one static call, and the whole dedup banding plan
  * stays inside whole-stage codegen with no Encoder round-trip).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    graft.ops.Dedup.simhash64(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.Dedup.simhash64($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Unicode NFC normalization as a native expression — the canonical-form
  * cleaning step of a web-scale text pipeline (decomposed accents / Hangul
  * jamo otherwise defeat every hash-keyed dedup and fingerprint). Same
  * codegen story as the siblings: one static JDK call inside generated code;
  * DuckDB's `nfc_normalize` is the cross-engine oracle.
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ftfy-style mojibake repair (UTF-8 mis-decoded as CP1252) as a native
  * expression — the encoding-fix step of a web-scale text pipeline. The
  * kernel lives in `graft.ops.TextOps.fixMojibakeStr` (conservative:
  * whole-string strict-UTF-8 validity required, ≤ 2 rounds); generated code
  * emits one static call, same codegen story as the siblings.
  */
case class FixMojibakeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "fix_mojibake"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(graft.ops.TextOps.fixMojibakeStr(
      input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.ops.TextOps.fixMojibakeStr($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Laplace-smoothed bigram log-probability in integer micro-nats —
  * `round(ln((cb+1)/(cu+v)) * 1e6)` — as a native ternary expression. The
  * math lives in `graft.ops.TextOps.logProbMicro` (StrictMath.log, so the
  * value is bit-identical on every JVM); generated code emits one static
  * call, keeping the LM-scoring stream inside whole-stage codegen like its
  * unary siblings.
  */
case class LogProbMicroExpr(first: Expression, second: Expression,
                            third: Expression) extends TernaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BIGINT, BIGINT, BIGINT) arguments, got " +
        children.map(_.dataType.catalogString).mkString(", "))
  override def prettyName: String = "log_prob_micro"

  override def nullSafeEval(cb: Any, cu: Any, v: Any): Any =
    graft.ops.TextOps.logProbMicro(
      cb.asInstanceOf[Long], cu.asInstanceOf[Long], v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (cb, cu, v) =>
      s"graft.ops.TextOps.logProbMicro($cb, $cu, $v)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** One token type's entropy contribution in integer micro-nats —
  * `c · round(ln(n/c) · 1e6)` (see [[graft.ops.TextOps.entropyTermMicro]]) —
  * as a native binary expression, so the per-type stream of
  * `TextOps.tokenEntropy` stays inside whole-stage codegen like its
  * `log_prob_micro` sibling.
  */
case class EntropyTermMicroExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BIGINT, BIGINT) arguments, got " +
        children.map(_.dataType.catalogString).mkString(", "))
  override def prettyName: String = "entropy_term_micro"

  override def nullSafeEval(c: Any, n: Any): Any =
    graft.ops.TextOps.entropyTermMicro(c.asInstanceOf[Long], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, n) =>
      s"graft.ops.TextOps.entropyTermMicro($c, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One trigram transition's stupid-backoff score in integer micro-nats —
  * the hot scalar of [[graft.ops.TextOps.backoffLmScore]], kept a native
  * expression for the same whole-stage-codegen reason as
  * [[LogProbMicroExpr]]. The three CHILDREN (k, num, den) vary per row; the
  * backoff penalty `alphaPm` is a plan-time constant baked into the
  * generated call.
  */
case class SbLogProbMicroExpr(first: Expression, second: Expression,
                              third: Expression, alphaPm: Int)
    extends TernaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BIGINT, BIGINT, BIGINT) arguments, got " +
        children.map(_.dataType.catalogString).mkString(", "))
  override def prettyName: String = "sb_log_prob_micro"

  override def nullSafeEval(k: Any, num: Any, den: Any): Any =
    graft.ops.TextOps.sbLogProbMicro(
      k.asInstanceOf[Long], num.asInstanceOf[Long], den.asInstanceOf[Long],
      alphaPm.toLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, num, den) =>
      s"graft.ops.TextOps.sbLogProbMicro($k, $num, $den, ${alphaPm}L)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** One (doc, term) BM25 contribution in integer micro-nats — the scoring
  * kernel of [[graft.ops.Retrieval.bm25TopK]], kept in whole-stage codegen
  * like `log_prob_micro`. The three CHILDREN (tf, df, dl) vary per row; the
  * four index-level constants (N, Σdl, k1‰, b‰) are case-class parameters so
  * they compile into the generated code as literals.
  */
case class Bm25MicroExpr(first: Expression, second: Expression,
                         third: Expression, nDocs: Long, sumDl: Long,
                         k1Pm: Int, bPm: Int) extends TernaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BIGINT, BIGINT, BIGINT) arguments, got " +
        children.map(_.dataType.catalogString).mkString(", "))
  override def prettyName: String = "bm25_micro"

  override def nullSafeEval(tf: Any, df: Any, dl: Any): Any =
    graft.ops.Retrieval.bm25TermMicro(
      tf.asInstanceOf[Long], df.asInstanceOf[Long], dl.asInstanceOf[Long],
      nDocs, sumDl, k1Pm, bPm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (tf, df, dl) =>
      s"graft.ops.Retrieval.bm25TermMicro($tf, $df, $dl, ${nDocs}L, ${sumDl}L, $k1Pm, $bPm)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Runtime bridge for [[WinnowFpsExpr]]: builds the Catalyst ArrayData from
  * the kernel's fingerprint array (called from generated code).
  */
object WinnowRuntime {
  def fps(s: UTF8String, k: Int,
          w: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      graft.ops.TextOps.winnowFps(s.toString, k, w))
}

/** Winnowing document fingerprints (Schleimer et al. 2003) as a native
  * codegen expression returning `array<bigint>` — the O(n) rolling-hash +
  * monotonic-deque kernel stays inside whole-stage codegen; k and w
  * compile in as literals.
  */
case class WinnowFpsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    WinnowRuntime.fps(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowRuntime.fps($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token-level Aho–Corasick automaton over phrase token sequences — the
  * runtime behind [[PhraseHitsExpr]] and the documented escalation path of
  * `TextOps.phraseBlocklist`: per-phrase positional scans cost
  * O(tokens × phrases) per document, the automaton costs O(tokens) walks
  * independent of dictionary size, which is what a 10^4-phrase policy list
  * needs. Built once at plan construction and shipped to executors as a
  * codegen reference object (standard Spark pattern for non-literal
  * expression state). Counts EVERY dictionary-phrase occurrence ending at
  * each position (overlaps and nested phrases included, via fail-link
  * output aggregation) — bit-equal to the per-phrase positional count by
  * construction.
  */
final class PhraseAc(phrases: Seq[Seq[String]]) extends Serializable {
  require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
    "phrases must be non-empty sequences of tokens")

  // trie over tokens (goto), BFS failure links, aggregated output counts
  private val (gotoMaps, fail, outCount): (Array[java.util.HashMap[String, Integer]],
      Array[Int], Array[Int]) = {
    import scala.jdk.CollectionConverters._
    val gotos = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[String, Integer]())
    val ends = scala.collection.mutable.ArrayBuffer(0)
    for (p <- phrases) {
      var node = 0
      for (tok <- p) {
        val nxt = gotos(node).get(tok)
        node = if (nxt != null) nxt.intValue()
        else {
          gotos += new java.util.HashMap[String, Integer]()
          ends += 0
          gotos(node).put(tok, Integer.valueOf(gotos.length - 1))
          gotos.length - 1
        }
      }
      ends(node) += 1
    }
    val fl = new Array[Int](gotos.length)
    val out = new Array[Int](gotos.length)
    val queue = scala.collection.mutable.Queue.empty[Int]
    for (e <- gotos(0).entrySet().asScala) {
      fl(e.getValue.intValue()) = 0
      queue += e.getValue.intValue()
    }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      out(u) = ends(u) + out(fl(u))
      for (e <- gotos(u).entrySet().asScala) {
        val tok = e.getKey
        val v = e.getValue.intValue()
        var f = fl(u)
        var target = -1
        while (target < 0) {
          val t = gotos(f).get(tok)
          if (t != null) target = t.intValue()
          else if (f == 0) target = 0
          else f = fl(f)
        }
        fl(v) = target
        queue += v
      }
    }
    (gotos.toArray, fl, out)
  }

  /** Total dictionary matches in one token array (called from generated
    * code). Null elements reset to the root and match nothing.
    */
  def hits(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    var node = 0
    var total = 0L
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) node = 0
      else {
        val tok = arr.getUTF8String(i).toString
        var done = false
        while (!done) {
          val t = gotoMaps(node).get(tok)
          if (t != null) { node = t.intValue(); done = true }
          else if (node == 0) done = true
          else node = fail(node)
        }
      }
      total += outCount(node)
      i += 1
    }
    total
  }
}

/** Total dictionary-phrase hits in a token array via a plan-time
  * Aho–Corasick automaton — `phrase_hits(toks)`, returning BIGINT. The
  * automaton rides into generated code as a reference object, so the
  * matcher stays inside whole-stage codegen like its unary siblings.
  */
case class PhraseHitsExpr(child: Expression, phrases: Seq[Seq[String]])
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<STRING> argument, got ${other.catalogString}")
  }
  override def prettyName: String = "phrase_hits"

  @transient private lazy val ac = new PhraseAc(phrases)

  override def nullSafeEval(input: Any): Any =
    ac.hits(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("phraseAc", ac,
      classOf[PhraseAc].getName)
    defineCodeGen(ctx, ev, c => s"$acRef.hits($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Runtime bridge for [[CdcChunksExpr]]: builds the Catalyst ArrayData from
  * the kernel's chunk array (called from generated code).
  */
object CdcRuntime {
  def chunks(s: UTF8String, maskBits: Int, minLen: Int,
             maxLen: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val arr = graft.ops.TextOps.cdcChunksStr(s.toString, maskBits, minLen, maxLen)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      arr.map(UTF8String.fromString).asInstanceOf[Array[Any]])
  }
}

/** Content-defined chunk boundaries (FastCDC gear-hash) as a native
  * codegen expression returning `array<string>` — the chunker stays inside
  * whole-stage codegen; chunk parameters compile in as literals.
  */
case class CdcChunksExpr(child: Expression, maskBits: Int, minLen: Int,
                         maxLen: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.catalogString}")
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcRuntime.chunks(input.asInstanceOf[UTF8String], maskBits, minLen, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcRuntime.chunks($c, $maskBits, $minLen, $maxLen)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Functions {
  /** Column-level API: `ds.select(fix_typos($"text"))`. */
  def fix_typos(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      FixTyposExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Column-level API: `ds.select(simhash64($"text"))`. */
  def simhash64(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SimHash64Expr(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Column-level API: `ds.select(nfc_normalize($"text"))`. */
  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NfcNormalizeExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Column-level API: `ds.select(fix_mojibake($"text"))`. */
  def fix_mojibake(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      FixMojibakeExpr(org.apache.spark.sql.GraftColumnBridge.expression(c)))

  /** Column-level API: `log_prob_micro(cb, cu, v)` (all BIGINT). */
  def log_prob_micro(cb: Column, cu: Column, v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      LogProbMicroExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(cb),
        org.apache.spark.sql.GraftColumnBridge.expression(cu),
        org.apache.spark.sql.GraftColumnBridge.expression(v)))

  /** Column-level API: `entropy_term_micro(c, n)` (both BIGINT). */
  def entropy_term_micro(c: Column, n: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      EntropyTermMicroExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(c),
        org.apache.spark.sql.GraftColumnBridge.expression(n)))

  /** Column-level API: `sb_log_prob_micro(k, num, den, α‰)` (cols BIGINT). */
  def sb_log_prob_micro(k: Column, num: Column, den: Column,
                        alphaPm: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SbLogProbMicroExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(k),
        org.apache.spark.sql.GraftColumnBridge.expression(num),
        org.apache.spark.sql.GraftColumnBridge.expression(den),
        alphaPm))

  /** Column-level API: `bm25_micro(tf, df, dl, N, Σdl, k1‰, b‰)`. */
  def bm25_micro(tf: Column, df: Column, dl: Column, nDocs: Long,
                 sumDl: Long, k1Pm: Int, bPm: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      Bm25MicroExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(tf),
        org.apache.spark.sql.GraftColumnBridge.expression(df),
        org.apache.spark.sql.GraftColumnBridge.expression(dl),
        nDocs, sumDl, k1Pm, bPm))

  /** Column-level API: `winnow_fps(text, k, w)`. */
  def winnow_fps(c: Column, k: Int = 8, w: Int = 16): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      WinnowFpsExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), k, w))

  /** Column-level API: `phrase_hits(toks, phrases)` — Aho–Corasick
    * dictionary matching over a token array.
    */
  def phrase_hits(c: Column, phrases: Seq[Seq[String]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PhraseHitsExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), phrases))

  /** Column-level API: `cdc_chunks(text, maskBits, minLen, maxLen)`. */
  def cdc_chunks(c: Column, maskBits: Int = 6, minLen: Int = 16,
                 maxLen: Int = 256): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CdcChunksExpr(org.apache.spark.sql.GraftColumnBridge.expression(c),
        maskBits, minLen, maxLen))

  /** Register for the SQL surface on an existing session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fix_typos", exprs => FixTyposExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64Expr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", exprs => NfcNormalizeExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fix_mojibake", exprs => FixMojibakeExpr(exprs.head), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "log_prob_micro",
      exprs => LogProbMicroExpr(exprs(0), exprs(1), exprs(2)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "entropy_term_micro",
      exprs => EntropyTermMicroExpr(exprs(0), exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cdc_chunks", exprs => CdcChunksExpr(exprs.head, 6, 16, 256), "scala_udf")
  }
}
