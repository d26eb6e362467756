/** Custom Catalyst expressions for the hot loops of the LLM-pipeline
  * operators (cosine dot products, SimHash bit-majority, MinHash
  * signatures).
  *
  * Spark's higher-order functions (`transform`/`aggregate`) evaluate their
  * lambdas interpreted — fine for wide ops, but a 64-element dot product
  * or a 32-perm minhash over ~350 shingles per row becomes the bottleneck
  * (measured 40-120 s/query at sf0.1). These expressions implement the
  * same math as whole-stage-codegen'd Java loops, the preference order the
  * engine follows: builtin functions > custom codegen Expression > UDF.
  *
  * The package lives under org.apache.spark.sql so it can use the
  * `private[sql]` ExpressionUtils Column<->Expression bridge — no function
  * registry or session extension needed, so queries work on any
  * SparkSession the driver hands us.
  */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Dot product of two array<double> columns (codegen'd tight loop). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot = copy(newLeft, newRight)
}

/** 60-bit SimHash from an array<long> of element hashes: bit-majority
  * vote over bits 0..59, bit set iff strictly more ones than zeros.
  * Matches the SQL formulation the DuckDB oracle runs (see Dedup.scala).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cnt = new Array[Int](60)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var b = 0
      while (b < 60) { cnt(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 60) { if (cnt(b) > 0) r |= (1L << b); b += 1 }
    r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val r = ctx.freshName("r")
      s"""
         |int[] $cnt = new int[60];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 60; $b++) {
         |    $cnt[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $r = 0L;
         |for (int $b = 0; $b < 60; $b++) { if ($cnt[$b] > 0) $r |= (1L << $b); }
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(newChild)
}

/** MinHash signature: k per-permutation minima over an array<long> of
  * element hashes; permutation j is a splitmix64 finalizer of
  * (h XOR seed_j). Internal to candidate generation only (the oracle is
  * brute-force Jaccard), so the mixer just has to be deterministic.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < x.numElements()) {
      val h = x.getLong(i)
      var j = 0
      while (j < k) {
        var z = h ^ (0x9E3779B97F4A7C15L * (j + 1))
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= (z >>> 31)
        if (z < out(j)) out(j) = z
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val z = ctx.freshName("z")
      s"""
         |long[] $out = new long[$k];
         |java.util.Arrays.fill($out, Long.MAX_VALUE);
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $j = 0; $j < $k; $j++) {
         |    long $z = $h ^ (0x9E3779B97F4A7C15L * ($j + 1));
         |    $z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |    $z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |    $z ^= ($z >>> 31);
         |    if ($z < $out[$j]) $out[$j] = $z;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(newChild, k)
}

/** Squared L2 norm — what VecDot(x, x) computes with half the array
  * reads. Produced by [[VecSelfDotRule]], not written by hand.
  */
case class VecNormSq(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm_sq"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) { val v = x.getDouble(i); s += v * v; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNormSq =
    copy(newChild)
}

/** Optimizer rule: VecDot(x, x) -> VecNormSq(x) when both sides are
  * semantically the same expression — one array traversal instead of a
  * paired one. Injected by [[GraftExtensions]] (or
  * spark.experimental.extraOptimizations on an existing session).
  */
object VecSelfDotRule
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case VecDot(a, b) if a.semanticEquals(b) => VecNormSq(a)
    }
}

/** Exact k-minimum-values (KMV) distinct sketch as a native
  * `TypedImperativeAggregate` — the mergeable-sketch surface of the
  * engine (SURVEY §7's stretch item). State is the set of the k smallest
  * DISTINCT hash values of the input (a 60-bit hash column): purely
  * set-determined, so partial aggregation, shuffle order, and merge
  * order cannot change the result, and — unlike HLL register arrays —
  * an independent engine can replay the sketch EXACTLY (the DuckDB
  * oracle sorts distinct hashes per group and applies the same
  * estimator). Estimate: n < k → exact n; else (k-1) * 2^60 / kth_min
  * (the classic KMV estimator on hashes uniform in [0, 2^60)).
  * At 100 TB the partial buffers are k longs per group per partition —
  * constant-size state flowing through the exchange, the whole point of
  * sketch aggregation.
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with ImplicitCastInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k >= 2, "kmv_distinct needs k >= 2")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_distinct"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      b: java.util.TreeSet[java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      b.add(v.asInstanceOf[Long])
      if (b.size > k) b.pollLast()
    }
    b
  }

  override def merge(
      b: java.util.TreeSet[java.lang.Long],
      o: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = o.iterator()
    while (it.hasNext) {
      b.add(it.next())
      if (b.size > k) b.pollLast()
    }
    b
  }

  override def eval(b: java.util.TreeSet[java.lang.Long]): Any =
    if (b.size < k) b.size.toDouble
    else (k - 1).toDouble * KmvDistinct.HashSpace / b.last().toDouble

  override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * b.size)
    val it = b.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = createAggregationBuffer()
    while (bb.remaining() >= 8) b.add(bb.getLong())
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvDistinct =
    copy(child = newChild)
}

object KmvDistinct {
  /** Hash domain: 15 hex chars of md5 = [0, 2^60). */
  val HashSpace: Double = math.pow(2.0, 60)
}

/** The KMV sketch ITSELF (sorted bottom-k hash array) rather than the
  * collapsed estimate — the form set operations need: two segment
  * sketches support union (bottom-k of the merged arrays), Jaccard
  * (matching fraction in the merged sketch) and intersection estimates
  * without ever co-shuffling the segments' raw keys. Same purely
  * set-determined state as [[KmvDistinct]], so a DuckDB oracle replays
  * the array — and everything derived from it — exactly.
  */
case class KmvSketch(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with ImplicitCastInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k >= 2, "kmv_sketch needs k >= 2")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_sketch"

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(
      b: java.util.TreeSet[java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      b.add(v.asInstanceOf[Long])
      if (b.size > k) b.pollLast()
    }
    b
  }

  override def merge(
      b: java.util.TreeSet[java.lang.Long],
      o: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = o.iterator()
    while (it.hasNext) {
      b.add(it.next())
      if (b.size > k) b.pollLast()
    }
    b
  }

  override def eval(b: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](b.size)
    val it = b.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * b.size)
    val it = b.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = createAggregationBuffer()
    while (bb.remaining() >= 8) b.add(bb.getLong())
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketch =
    copy(child = newChild)
}

/** Misra-Gries heavy-hitter sketch over a string column, as a mergeable
  * TypedImperativeAggregate. State is at most k (item, count) pairs;
  * update decrements all counters when a new item overflows the capacity,
  * merge sums counters then subtracts the (k+1)-th largest (the mergeable-
  * summaries reduction of Agarwal et al., PODS'12), which preserves the
  * deterministic guarantee: every item with true frequency > n/(k+1)
  * SURVIVES in the candidate set regardless of partition or merge order.
  * The candidate SET itself is order-dependent (like any MG run), so
  * queries must re-count candidates exactly and filter on a threshold
  * above n/(k+1) — the final output is then exact and engine-independent,
  * which is what lets a DuckDB oracle verify a sketch-powered query.
  * At 100 TB: constant O(k) state per partition flows through the
  * exchange; the exact re-count pass touches only rows matching ~k items.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.HashMap[String, java.lang.Long]]
  with ImplicitCastInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(k >= 1, "misra_gries needs k >= 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"

  private type Buf = java.util.HashMap[String, java.lang.Long]

  override def createAggregationBuffer(): Buf = new Buf()

  /** Decrement every counter by d, dropping non-positive entries. */
  private def decay(b: Buf, d: Long): Unit = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val nv = e.getValue - d
      if (nv <= 0) it.remove() else e.setValue(nv)
    }
  }

  override def update(b: Buf, input: org.apache.spark.sql.catalyst.InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.toString
      val cur = b.get(s)
      if (cur != null) b.put(s, cur + 1L)
      else if (b.size < k) b.put(s, 1L)
      else decay(b, 1L)
    }
    b
  }

  override def merge(b: Buf, o: Buf): Buf = {
    val it = o.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = b.get(e.getKey)
      b.put(e.getKey, if (cur == null) e.getValue else cur + e.getValue)
    }
    if (b.size > k) {
      // subtract the (k+1)-th largest count from everything
      val counts = new Array[Long](b.size)
      var i = 0
      val vit = b.values().iterator()
      while (vit.hasNext) { counts(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(counts)
      decay(b, counts(b.size - k - 1))
    }
    b
  }

  override def eval(b: Buf): Any = {
    val items = new Array[Any](b.size)
    var i = 0
    val it = b.keySet().iterator()
    while (it.hasNext) {
      items(i) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      i += 1
    }
    new GenericArrayData(items)
  }

  override def serialize(b: Buf): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(b.size)
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { b.put(in.readUTF(), in.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

/** Greedy longest-match BPE-ish token count over a literal merge vocab —
  * the codegen'd form of the `aggregate()` fold in operators/Text.scala
  * (which remains the declarative reference; the DuckDB oracle replays
  * the same vocab via recursive CTE). The vocab lives HERE as the single
  * source: Text derives both its fold expression and its oracle SQL from
  * these arrays. Matching is code-point-exact (ASCII vocab entries can't
  * match inside a surrogate pair, and the 1-char fallback advances by
  * code point), so counts agree with Spark substr / DuckDB substr
  * semantics on any input, not just ASCII.
  */
object BpeCount {
  val V4: Array[String] = Array("tion", "ment", "able", "ness", "ight", "ould", "ever")
  val V3: Array[String] = Array("ing", "ion", "ent", "ers", "est", "ate", "and", "the", "for")
  val V2: Array[String] = Array("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
    "es", "or", "te", "ed", "is", "it", "al", "ar", "st", "to")

  /** Static so generated code calls it directly (stays inside
    * whole-stage codegen as one static invoke).
    */
  def count(u: org.apache.spark.unsafe.types.UTF8String): Long = {
    val s = u.toString
    val n = s.length
    var pos = 0
    var c = 0L
    while (pos < n) {
      var m = 0
      var i = 0
      while (m == 0 && i < V4.length) { if (s.startsWith(V4(i), pos)) m = 4; i += 1 }
      i = 0
      while (m == 0 && i < V3.length) { if (s.startsWith(V3(i), pos)) m = 3; i += 1 }
      i = 0
      while (m == 0 && i < V2.length) { if (s.startsWith(V2(i), pos)) m = 2; i += 1 }
      pos += (if (m == 0) Character.charCount(s.codePointAt(pos)) else m)
      c += 1
    }
    c
  }
}

case class BpeCount(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_count"

  override protected def nullSafeEval(a: Any): Any =
    BpeCount.count(a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.sql.graft.BpeCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(newChild)
}

/** Column-level API for the graft engine (importable from graft code). */
object VecFunctions {
  private def ex(c: Column): Expression = ExpressionUtils.expression(c)

  def vec_dot(a: Column, b: Column): Column =
    ExpressionUtils.column(VecDot(ex(a), ex(b)))

  def simhash64(hashes: Column): Column =
    ExpressionUtils.column(SimHash64(ex(hashes)))

  def minhash_sig(hashes: Column, k: Int): Column =
    ExpressionUtils.column(MinHashSig(ex(hashes), k))

  def kmv_distinct(hash: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvDistinct(ex(hash), k).toAggregateExpression(isDistinct = false))

  def kmv_sketch(hash: Column, k: Int): Column =
    ExpressionUtils.column(
      KmvSketch(ex(hash), k).toAggregateExpression(isDistinct = false))

  def misra_gries(item: Column, k: Int): Column =
    ExpressionUtils.column(
      MisraGries(ex(item), k).toAggregateExpression(isDistinct = false))

  def bpe_count(word: Column): Column =
    ExpressionUtils.column(BpeCount(ex(word)))

  /** Builders for SQL registration (k for minhash_sig comes from a
    * literal int argument).
    */
  private[graft] val sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (args => VecDot(args(0), args(1))),
    "simhash64" -> (args => SimHash64(args(0))),
    "minhash_sig" -> (args => MinHashSig(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "bpe_count" -> (args => BpeCount(args(0))),
    // aggregates return the bare AggregateFunction — the analyzer wraps
    // it in AggregateExpression (and owns DISTINCT/FILTER handling)
    "kmv_distinct" -> (args => KmvDistinct(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "kmv_sketch" -> (args => KmvSketch(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "misra_gries" -> (args => MisraGries(args(0),
      args(1).eval(null).asInstanceOf[Int])),
  )

  /** Make the expressions callable from spark.sql on an existing session
    * (temp functions; idempotent).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlBuilders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** SparkSessionExtensions injector for cluster deployments:
  * `--conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * registers the engine's functions in every session.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    VecFunctions.sqlBuilders.foreach { case (name, builder) =>
      e.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo("org.apache.spark.sql.graft.package", name),
        builder))
    }
    e.injectOptimizerRule(_ => VecSelfDotRule)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
