package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/text hot paths (SURVEY.md
  * §7.2). ALL participate in whole-stage codegen: cosine inlines its loop;
  * the rest generate calls into the static [[VectorKernels]] (no
  * CodegenFallback interpretation break anywhere). Registered as SQL
  * functions so call sites use `call_function` (stable across Spark 4
  * Column internals) and injectable cluster-wide via
  * [[graft.GraftExtensions]].
  */
object VectorFunctions {

  /** Cosine similarity over two DOUBLE arrays, accumulated in index order
    * (exactly matching DuckDB's `list_dot_product`-based oracle formula, so
    * oracle comparison is bit-exact before rounding). Returns 0 for a zero
    * vector; null if either side is null.
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        val denom = ctx.freshName("denom")
        s"""
          int $n = java.lang.Math.min($a.numElements(), $b.numElements());
          double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $xi = $a.getDouble($i);
            double $yi = $b.getDouble($i);
            $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
          }
          double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
          ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
        """
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** 64-bit SimHash of a token array: each distinct token votes its 64 hash
    * bits (+1/-1); the sign vector is the fingerprint. Near-duplicate
    * documents land within small Hamming distance. Token hash is a fixed
    * FNV-1a 64 (deterministic across runs/engines, no seed material).
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.simhash64(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.simhash64($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Lower 64 bits of MD5(string) as a long holding the unsigned value —
    * bit-identical to DuckDB's `md5_number_lower`, which makes it the
    * cross-engine-reproducible uniform-hash source for deterministic
    * sampling oracles (see VectorKernels.md5Lower64 for the byte order). */
  case class Md5Lower64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "md5_lower64"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.md5Lower64(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.md5Lower64($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature of a string array: sig[i] = min over elements of
    * XXH64(element bytes, seed = i), i < numHashes. One tight JVM loop per
    * row — the equivalent nested higher-order-function formulation
    * (`transform(sequence(...), i -> array_min(transform(tokens, t ->
    * xxhash64(i, t))))`) is interpreted per element and measures ~20×
    * slower at sf0.1.
    */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.minhashSignature(v.asInstanceOf[ArrayData], numHashes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorKernels.minhashSignature($c, $numHashes)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct n-gram shingle set of a token array, one tight loop per row.
    * The higher-order-function equivalent (`array_distinct(transform(
    * sequence(...), i -> concat_ws(' ', t[i], t[i+1], t[i+2])))`) is
    * interpreted per element and measures ~1ms/document at 50 tokens.
    */
  case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "shingle_set"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.shingleSet(v.asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.shingleSet($c, $n)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Streaming shingle expansion as a custom Catalyst `Generator` (the
    * SURVEY §7.2 UDTF-class stretch goal): emits one (pos, shingle) row
    * per n-gram WITHOUT materializing the shingle array first. For a
    * 100 TB corpus of long documents this is the difference between O(1)
    * extra memory per row and holding len−n+1 concatenated strings before
    * the explode copies them again. Unlike [[ShingleSet]] it preserves
    * positions and duplicates (the input shape span-level dedup and
    * positional n-gram models need).
    *
    * Generators run through non-codegen `GenerateExec` (Spark codegens
    * only its built-in CollectionGenerators), so the fallback here is the
    * engine's own generator contract, not an interpretation regression —
    * the row-emitting loop below IS the operator.
    */
  case class ShingleGenerate(child: Expression, n: Int)
      extends UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.Generator
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def elementSchema: StructType = new StructType()
      .add("pos", IntegerType, nullable = false)
      .add("shingle", StringType, nullable = false)
    override def prettyName: String = "shingle_gen"

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"shingle_gen needs array<string>, got ${other.catalogString}")
      }

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Iterator.empty
      val arr = v.asInstanceOf[ArrayData]
      val len = arr.numElements()
      if (len < n) return Iterator.empty
      new Iterator[InternalRow] {
        private var i = 0
        override def hasNext: Boolean = i <= len - n
        override def next(): InternalRow = {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(arr.getUTF8String(i + j).toString)
            j += 1
          }
          val row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(2)
          row.update(0, i)
          row.update(1, UTF8String.fromString(sb.toString))
          i += 1
          row
        }
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit polynomial rolling hash over a token array: h = Σ fnv(tok_i) ·
    * B^(n-1-i) mod 2^64 (B = 1000003). Order-sensitive (unlike simhash) —
    * a document fingerprint for exact-sequence dedup that streams in one
    * pass and composes incrementally at 100 TB (hash of concat =
    * combine(hash, hash, len)).
    */
  case class RollingHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "rolling_hash64"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.rollingHash64(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.rollingHash64($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Unicode NFC normalization (q_text_normalize) — Spark ships no unicode
    * normalizer; this wraps the JDK one as a codegen'd expression so text
    * canonicalization (the first step of any cross-source corpus merge)
    * stays inside whole-stage codegen. */
  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.nfcNormalize(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.nfcNormalize($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Diacritic removal (NFD → drop marks → NFC), matching DuckDB
    * `strip_accents` on Latin inputs. */
  case class StripAccents(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "strip_accents"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.stripAccents(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.stripAccents($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** One-pass multi-pattern substring counter backed by a precompiled
    * [[AhoAutomaton]] (built once at plan time from the literal pattern
    * list, shipped to executors as a codegen reference object — NOT
    * rebuilt per row/task). Returns one count per pattern, all
    * occurrences including overlapping. The Spark-native alternatives
    * both lose: a regex alternation scans once per alternative and
    * `P × contains()` re-traverses the text P times; the automaton is
    * O(bytes) regardless of pattern count — the shape a 10k-term
    * substring blocklist needs at 100 TB.
    */
  case class MultiPatternCount(child: Expression, patterns: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "multi_pattern_count"

    @transient private lazy val automaton = new AhoAutomaton(patterns)

    override def nullSafeEval(v: Any): Any =
      automaton.countAll(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ahoAutomaton", automaton,
        classOf[AhoAutomaton].getName)
      defineCodeGen(ctx, ev, c => s"$ref.countAll($c)")
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  case class TokenPairs(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("ta", StringType), StructField("tb", StringType))),
      containsNull = false)
    override def prettyName: String = "token_pairs"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.tokenPairs(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.tokenPairs($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Point-estimate probe of a serialized Spark `CountMinSketch` binary
    * (the missing read half of the public `count_min_sketch` aggregate —
    * Spark can build the sketch in SQL but ships no SQL probe). Left:
    * sketch binary (scalar subquery / broadcast), right: long key.
    * Deserialization is cached per task thread (VectorKernels). */
  /** Bloom-filter membership probe (sketch binary, long key) — graft-owned
    * replacement for Spark's internal BloomFilterMightContain, whose
    * codegen trips a janino parse bug on constant-folded negative probe
    * values (see VectorKernels.bloomMightContainLong). */
  case class GraftMightContain(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "graft_might_contain"

    override def nullSafeEval(sk: Any, v: Any): Any =
      VectorKernels.bloomMightContainLong(sk.asInstanceOf[Array[Byte]],
        v.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.VectorKernels.bloomMightContainLong($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  case class CmsEstimate(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "cms_estimate"

    override def nullSafeEval(sk: Any, v: Any): Any =
      VectorKernels.cmsEstimateLong(sk.asInstanceOf[Array[Byte]],
        v.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.VectorKernels.cmsEstimateLong($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** PQ codes (4 longs) of a 64-dim double vector — see
    * VectorKernels.pqEncode for the codebook contract. */
  case class PqEncode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "pq_encode"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.pqEncode(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.pqEncode($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ADC distance table (64 doubles, [m*16+k]) of a 64-dim query vector. */
  case class PqDtable(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "pq_dtable"

    override def nullSafeEval(v: Any): Any =
      VectorKernels.pqDtable(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.pqDtable($c)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All md-seeded ±1 plane projections of a float/double embedding in one
    * tight kernel loop — see [[VectorKernels.mdPlaneDots]]. */
  case class MdPlaneDots(child: Expression, planes: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "md_plane_dots"
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(v: Any): Any =
      VectorKernels.mdPlaneDots(v.asInstanceOf[ArrayData], planes, isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorKernels.mdPlaneDots($c, $planes, $isFloat)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** ⌊1000·x+0.5⌋ int16 quantization of a float/double embedding. */
  case class Quantize16(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(ShortType, containsNull = false)
    override def prettyName: String = "quantize16"
    private def isFloat: Boolean = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }

    override def nullSafeEval(v: Any): Any =
      VectorKernels.quantize16(v.asInstanceOf[ArrayData], isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorKernels.quantize16($c, $isFloat)")

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Cosine over two int16-quantized vectors (long-exact dot and norms;
    * see [[VectorKernels.cosineSimInt16]]). */
  case class CosineSimilarityInt16(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity_int16"

    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.cosineSimInt16(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.VectorKernels.cosineSimInt16($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Squared L2 over two int16-quantized vectors (long-exact). */
  case class L2SqInt16(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "l2sq_int16"

    override def nullSafeEval(a: Any, b: Any): Any =
      VectorKernels.l2sqInt16(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.VectorKernels.l2sqInt16($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** A plan-time literal argument (plane count, shingle width, ...). */
  private def intArg(e: Expression): Int = e.eval(InternalRow.empty).asInstanceOf[Int]

  /** The graft function library as (SQL name, builder): the one table both
    * [[register]] and [[graft.GraftExtensions]] install from. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (exprs => CosineSimilarity(exprs(0), exprs(1))),
    "simhash64" -> (exprs => SimHash64(exprs.head)),
    "minhash_signature" -> (exprs => MinHashSignature(exprs.head, intArg(exprs(1)))),
    "shingle_set" -> (exprs => ShingleSet(exprs.head, intArg(exprs(1)))),
    "shingle_gen" -> (exprs => ShingleGenerate(exprs.head, intArg(exprs(1)))),
    "rolling_hash64" -> (exprs => RollingHash64(exprs.head)),
    "md5_lower64" -> (exprs => Md5Lower64(exprs.head)),
    "token_pairs" -> (exprs => TokenPairs(exprs.head)),
    // Spark ships a distributed bloom-filter aggregate (used internally by
    // runtime join filtering) that it does NOT expose in the public
    // registry: BloomFilterAggregate builds the sketch as a tree-reduced
    // aggregate. The probe half is graft-owned (GraftMightContain) — same
    // public serialized format — because Spark's internal probe expression
    // miscompiles constant-folded negative probe values (janino parse).
    // Together they give the membership primitive for sketch-based ingest
    // dedup (q_dedup_bloom) without collecting the filter to the driver.
    "graft_bloom_agg" -> (exprs => new org.apache.spark.sql.catalyst.expressions
      .aggregate.BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
      .toAggregateExpression()),
    "graft_might_contain" -> (exprs => GraftMightContain(exprs(0), exprs(1))),
    // Bounded top-k pair selection (TypedImperativeAggregate; TopKAgg.scala)
    // — the zero-sort spelling of the k-NN queries' rank-window tails.
    "topk_pairs" -> (exprs => TopKAgg.build(exprs)),
    "cms_estimate" -> (exprs => CmsEstimate(exprs(0), exprs(1))),
    "pq_encode" -> (exprs => PqEncode(exprs.head)),
    "pq_dtable" -> (exprs => PqDtable(exprs.head)),
    "md_plane_dots" -> (exprs => MdPlaneDots(exprs.head, intArg(exprs(1)))),
    "quantize16" -> (exprs => Quantize16(exprs.head)),
    "cosine_similarity_int16" -> (exprs => CosineSimilarityInt16(exprs(0), exprs(1))),
    "l2sq_int16" -> (exprs => L2SqInt16(exprs(0), exprs(1))),
    "nfc_normalize" -> (exprs => NfcNormalize(exprs.head)),
    "strip_accents" -> (exprs => StripAccents(exprs.head)),
    "multi_pattern_count" -> (exprs => MultiPatternCount(exprs.head,
      exprs(1).eval(InternalRow.empty).asInstanceOf[ArrayData]
        .toObjectArray(StringType).map(_.asInstanceOf[UTF8String].toString).toSeq)))

  /** Sessions already holding the graft functions. Weak keys: a dropped
    * session must not be pinned by the guard. Without the guard every query
    * re-registered the whole set, flooding the log with
    * `SimpleFunctionRegistry ... replaced` warnings (one per function per
    * query in a bench run).
    */
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register all graft functions in the session, once per session. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (!registered.add(spark)) return
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  def cosineSim(a: Column, b: Column): Column = call_function("cosine_similarity", a, b)
  def simhash(tokens: Column): Column = call_function("simhash64", tokens)
  def minhashSig(tokens: Column, numHashes: Int): Column =
    call_function("minhash_signature", tokens, org.apache.spark.sql.functions.lit(numHashes))
  def shingleSet(tokens: Column, n: Int): Column =
    call_function("shingle_set", tokens, org.apache.spark.sql.functions.lit(n))
  def rollingHash(tokens: Column): Column = call_function("rolling_hash64", tokens)
  def md5Lower(s: Column): Column = call_function("md5_lower64", s)
  def tokenPairs(tokens: Column): Column = call_function("token_pairs", tokens)
  def mdPlaneDots(v: Column, planes: Int): Column =
    call_function("md_plane_dots", v, org.apache.spark.sql.functions.lit(planes))
  def quantize16(v: Column): Column = call_function("quantize16", v)
  def cosineSimQ(a: Column, b: Column): Column =
    call_function("cosine_similarity_int16", a, b)
  def l2sqQ(a: Column, b: Column): Column = call_function("l2sq_int16", a, b)
  def pqEncode(v: Column): Column = call_function("pq_encode", v)
  def pqDtable(v: Column): Column = call_function("pq_dtable", v)
  def multiPatternCount(text: Column, patterns: Seq[String]): Column =
    call_function("multi_pattern_count", text,
      org.apache.spark.sql.functions.lit(patterns.toArray))
}
