package graft.expr

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the operators Spark's function library
  * can't express (SURVEY §2.10/§7.2). Registered per-session by
  * [[graft.expr.GraftFunctions.register]]; null propagation comes from the
  * Unary/BinaryExpression nullSafeEval contract.
  */

/** P1 — recursive `$$`-field pruning of a JSON document: drop every key
  * starting with `$$` except `$$meta`, at ANY nesting depth (arrays
  * included), preserving field order; re-serialized compact.
  * Reference semantics: removeDollarFields (src/lib/utils.js:14-25).
  * Higher-order builtins can't express unknown-depth recursion, hence a
  * native expression (CodegenFallback: per-row JSON parse dominates; a
  * generated-code version would not beat Jackson).
  */
case class RemoveDollarFields(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val m = JsonSupport.mapper
    val root = m.readTree(input.asInstanceOf[UTF8String].toString)
    UTF8String.fromString(m.writeValueAsString(JsonSupport.stripDollar(root)))
  }
  override protected def withNewChildInternal(c: Expression): RemoveDollarFields =
    copy(child = c)
  override def prettyName: String = "remove_dollar_fields"
}

/** F10 — RFC 7386 JSON merge-patch: `json_merge_patch(target, patch)`.
  * Objects merge recursively; a null in the patch deletes the key; any
  * non-object patch value replaces wholesale.
  * Reference: jsonmergepatch.apply in multi-config composition
  * (src/lib/client.js:2105). */
case class JsonMergePatch(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  override def nullSafeEval(t: Any, p: Any): Any = {
    val m = JsonSupport.mapper
    val merged = JsonSupport.mergePatch(
      m.readTree(t.asInstanceOf[UTF8String].toString),
      m.readTree(p.asInstanceOf[UTF8String].toString))
    UTF8String.fromString(m.writeValueAsString(merged))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : JsonMergePatch = copy(left = l, right = r)
  override def prettyName: String = "json_merge_patch"
}

/** F4 — 32-bit Java-style string hash `h = 31*h + c` with int32 wrap
  * (reference: hashCode, src/lib/utils.js:31-42 — used to key the
  * connection pool without storing passwords). Whole-stage-codegen'd:
  * compiles to `UTF8String.toString().hashCode()` inline. */
case class JavaStringHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    input.asInstanceOf[UTF8String].toString.hashCode

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"($c).toString().hashCode()")

  override protected def withNewChildInternal(c: Expression): JavaStringHash =
    copy(child = c)
  override def prettyName: String = "java_string_hash"
}

/** UDTF surface (SURVEY §2.10): sliding token windows as a native
  * Generator — `explode_windows(tokens, w)` emits one (pos, win) row per
  * window of `w` consecutive elements joined by '_', pos 1-based.
  *
  * Row-identical to the higher-order formulation
  * `posexplode(transform(sequence(1, m-w+1), i => concat_ws("_",
  * slice(ws, i, w))))` (parity spec-pinned), but it never materializes
  * the O(m·w)-char window ARRAY per row — windows stream out of the
  * generator one at a time, so peak memory for a million-token document
  * is one window, not the document times the window width. That array is
  * exactly what a 100 TB corpus with long documents cannot afford per
  * row. CodegenFallback: GenerateExec drives generators through eval;
  * the per-window cost is the UTF8String concat either way. */
case class ExplodeWindows(child: Expression, width: Expression)
    extends Generator with CodegenFallback {
  override def children: Seq[Expression] = Seq(child, width)

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("win", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if width.dataType == IntegerType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"explode_windows needs (array<string>, int), got " +
        s"(${child.dataType.catalogString}, ${width.dataType.catalogString})")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
  : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val arr = child.eval(input)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val wv = width.eval(input)
    if (arr == null || wv == null) return Nil
    val w = wv.asInstanceOf[Int]
    require(w >= 1, s"explode_windows: width must be >= 1, got $w")
    val m = arr.numElements()
    if (m < w) return Nil
    val sep = UTF8String.fromString("_")
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var i = 0
      override def hasNext: Boolean = i <= m - w
      override def next(): org.apache.spark.sql.catalyst.InternalRow = {
        // concatWs skips nulls — same semantics as the concat_ws builtin
        val parts = new Array[UTF8String](w)
        var j = 0
        while (j < w) {
          parts(j) =
            if (arr.isNullAt(i + j)) null
            else arr.getUTF8String(i + j)
          j += 1
        }
        i += 1
        new GenericInternalRow(Array[Any](i, UTF8String.concatWs(sep, parts: _*)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExplodeWindows =
    copy(child = newChildren(0), width = newChildren(1))
  override def prettyName: String = "explode_windows"
}

/** Codegen'd float-vector dot product accumulating in double, strictly
  * left to right — BIT-IDENTICAL to the higher-order
  * `aggregate(zip_with(a, b, (x,y) => x.cast(double) * y.cast(double)))`
  * fold it replaces (same widening, same op order), but whole-stage
  * codegen'd where HOF lambdas are interpreted. Null array, length
  * mismatch, or any null element → null, exactly like the fold
  * (zip_with pads/propagates nulls and `acc + null` is null). */
case class DotProductFF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // getFloat reads exactly 4 bytes per slot: anything but array<float>
  // (e.g. array<double> from a SQL client via the dot_ff registration)
  // must fail at analysis time, not yield garbage. (ExpectsInputTypes is
  // not reachable here — AbstractDataType is private[sql] — so the check
  // is spelled out; array<null> from an empty literal is accepted since
  // no element is ever read from it.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(NullType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<float>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) { ${ev.isNull} = true; }
         |else {
         |  double acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : DotProductFF = copy(left = l, right = r)
  override def prettyName: String = "dot_ff"
}

/** Exact integer dot product of two array<bigint> columns — the hot loop
  * of the int8-quantized similarity path ([[graft.ops.Similarity]]
  * quantized variants): products and the accumulator are 64-bit integers,
  * so the result is EXACT and cross-engine reproducible (DuckDB:
  * `list_sum(list_transform(list_zip(a, b), p -> p[1] * p[2]))`), unlike
  * any float formulation. Codegen'd like [[DotProductFF]]. Overflow is
  * out of contract: int8-quantized elements bound |Σ a_i·b_i| ≤
  * n·127², so a long holds n up to Long.MaxValue/127² ≈ 5.7e14 —
  * hundreds of trillions of elements before overflow. */
case class DotProductLL(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) | ArrayType(NullType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) { ${ev.isNull} = true; }
         |else {
         |  long acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : DotProductLL = copy(left = l, right = r)
  override def prettyName: String = "dot_ll"
}

/** Exact integer nearest cell of an array<bigint> vector among a FIXED
  * cell set — the assignment step of the integer k-means / PQ trainers
  * ([[graft.ops.Similarity]]), evaluated per row with no join and no
  * shuffle. `cells` is a foldable array<struct<cell: bigint, c_emb:
  * array<bigint>, c_norm: bigint>> (the driver-held model as ONE
  * literal); the result is struct<dist2, cell> minimizing
  * dist2 = q_norm − 2·⟨q, c_emb⟩ + c_norm, ties to the smaller cell —
  * the same integers [[DotProductLL]] would give, so the argmin is
  * engine-exact. The cells are scanned in a generated loop over
  * primitive arrays (not unrolled, so k does not grow the generated
  * method). Null when q or q_norm is null, an element of q is null, q's
  * length differs from a cell's, or there are no cells. */
case class NearestCell(q: Expression, qNorm: Expression, cells: Expression)
    extends TernaryExpression {
  override def first: Expression = q
  override def second: Expression = qNorm
  override def third: Expression = cells
  override def dataType: DataType = StructType(Seq(
    StructField("dist2", LongType, nullable = false),
    StructField("cell", LongType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val qOk = q.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val cellsOk = cells.dataType match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _),
          StructField(_, ArrayType(LongType, _), _, _),
          StructField(_, LongType, _, _))), _) => true
      case _ => false
    }
    if (qOk && qNorm.dataType == LongType && cellsOk && cells.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, bigint, literal array<struct<" +
        s"bigint, array<bigint>, bigint>>), got (${q.dataType.catalogString}, " +
        s"${qNorm.dataType.catalogString}, ${cells.dataType.catalogString}" +
        s"${if (cells.foldable) "" else " non-literal"})")
  }

  /** (ids, centroids, norms) sorted by id: scanning in id order with a
    * strict `<` is the smaller-cell tie-break. */
  @transient private lazy val table: (Array[Long], Array[Array[Long]], Array[Long]) = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = cells.eval().asInstanceOf[ArrayData]
    val rows = (0 until (if (a == null) 0 else a.numElements())).map { i =>
      require(!a.isNullAt(i), s"$prettyName: null cell")
      val r = a.getStruct(i, 3)
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"$prettyName: cell $i has a null field")
      val e = r.getArray(1)
      require((0 until e.numElements()).forall(!e.isNullAt(_)),
        s"$prettyName: cell ${r.getLong(0)} has a null element")
      (r.getLong(0), e.toLongArray(), r.getLong(2))
    }.sortBy(_._1)
    (rows.map(_._1).toArray, rows.map(_._2).toArray, rows.map(_._3).toArray)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = q.eval(input)
    val n = qNorm.eval(input)
    if (v == null || n == null) null
    else {
      val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val (ids, embs, norms) = table
      val len = a.numElements()
      if ((0 until len).exists(a.isNullAt)) return null
      var best = 0L
      var bestCell = 0L
      var c = 0
      while (c < ids.length) {
        val e = embs(c)
        if (e.length != len) return null
        var acc = 0L
        var i = 0
        while (i < len) { acc += a.getLong(i) * e(i); i += 1 }
        val d = n.asInstanceOf[Long] - 2L * acc + norms(c)
        if (c == 0 || d < best) { best = d; bestCell = ids(c) }
        c += 1
      }
      if (ids.isEmpty) null
      else org.apache.spark.sql.catalyst.InternalRow(best, bestCell)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val (ids, embs, norms) = table
    val idsRef = ctx.addReferenceObj("cellIds", ids, "long[]")
    val embsRef = ctx.addReferenceObj("cellEmbs", embs, "long[][]")
    val normsRef = ctx.addReferenceObj("cellNorms", norms, "long[]")
    val qe = q.genCode(ctx)
    val ne = qNorm.genCode(ctx)
    val Seq(len, c, i, e, acc, d, best, bestCell, bad) = Seq("len", "c", "i",
      "e", "acc", "d", "best", "bestCell", "bad").map(ctx.freshName)
    val row = classOf[GenericInternalRow].getName
    ev.copy(code = code"""
      |${qe.code}
      |${ne.code}
      |boolean ${ev.isNull} = true;
      |InternalRow ${ev.value} = null;
      |if (!${qe.isNull} && !${ne.isNull} && $idsRef.length > 0) {
      |  int $len = ${qe.value}.numElements();
      |  boolean $bad = false;
      |  for (int $i = 0; $i < $len; $i++) {
      |    if (${qe.value}.isNullAt($i)) { $bad = true; break; }
      |  }
      |  long $best = 0L;
      |  long $bestCell = 0L;
      |  for (int $c = 0; $c < $idsRef.length && !$bad; $c++) {
      |    long[] $e = $embsRef[$c];
      |    if ($e.length != $len) { $bad = true; break; }
      |    long $acc = 0L;
      |    for (int $i = 0; $i < $len; $i++) {
      |      $acc += ${qe.value}.getLong($i) * $e[$i];
      |    }
      |    long $d = ${ne.value} - 2L * $acc + $normsRef[$c];
      |    if ($c == 0 || $d < $best) { $best = $d; $bestCell = $idsRef[$c]; }
      |  }
      |  if (!$bad) {
      |    ${ev.isNull} = false;
      |    ${ev.value} = new $row(new Object[] {
      |      Long.valueOf($best), Long.valueOf($bestCell)});
      |  }
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): NearestCell = copy(q = a, qNorm = b, cells = c)
  override def prettyName: String = "nearest_cell"
}

/** Z-order (Morton) interleave of the low 16 bits of two non-negative
  * longs into one clustering key: bit b of `left` lands at bit 2b, bit b
  * of `right` at bit 2b+1. Range-partitioning / sorting parquet by the key
  * co-locates rows that are close in BOTH dimensions, so min/max footer
  * stats prune 2-D predicates — the standard multi-dimensional layout
  * trick (Z-curves; cf. Delta/Iceberg OPTIMIZE ZORDER). Codegen'd
  * branch-free bit spread, no loop. */
case class ZOrder16(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrderUtil.interleave16(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expr.ZOrderUtil.interleave16($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : ZOrder16 = copy(left = l, right = r)
  override def prettyName: String = "zorder16"
}

/** Standalone object (no companion class) so scalac emits STATIC
  * forwarders — janino-generated code calls it as a plain Java static. */
object ZOrderUtil {
  private def spread(v0: Long): Long = {
    var v = v0 & 0xFFFFL
    v = (v | (v << 8)) & 0x00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0FL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }
  def interleave16(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  /** Hilbert-curve distance of a 16-bit (x, y) cell — the OTHER
    * layout key ([[graft.expr.Hilbert16]]): unlike Z-order, every
    * consecutive pair of d values is a Manhattan-adjacent cell pair,
    * so key-range blocks cover tighter spatial boxes (no Z-shape
    * diagonal jumps). Classic top-down quadrant walk (Hilbert 1891 as
    * given in Warren, Hacker's Delight §16): per level, the quadrant
    * index (3·rx)⊕ry advances d by s², then the frame rotates/reflects
    * INTO the quadrant; coordinates are re-masked to the level each
    * step so every intermediate stays in [0, s). */
  def hilbert16(x0: Long, y0: Long): Long = {
    var x = x0 & 0xFFFFL
    var y = y0 & 0xFFFFL
    var d = 0L
    var s = 32768L
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // drop the consumed bit, then rotate/reflect within [0, s)
      x &= s - 1
      y &= s - 1
      if (ry == 0) {
        val xf = if (rx == 1) s - 1 - x else x
        val yf = if (rx == 1) s - 1 - y else y
        x = yf
        y = xf
      }
      s >>= 1
    }
    d
  }
}

/** Hilbert-curve clustering key: `hilbert16(x, y)` maps two 16-bit
  * bucket coordinates onto their distance along the order-16 Hilbert
  * curve (a bijection of the 2^32 grid, like [[ZOrder16]]). The layout
  * alternative to Z-order when both dimensions are range-queried:
  * `layout_locality` grades the measured block-extent difference. */
case class Hilbert16(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (bigint, bigint), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(l: Any, r: Any): Any =
    ZOrderUtil.hilbert16(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expr.ZOrderUtil.hilbert16($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : Hilbert16 = copy(left = l, right = r)
  override def prettyName: String = "hilbert16"
}

/** Multimodal binary feature primitive: per-block unsigned-byte sums of
  * an opaque payload — `block_sums(payload, blocks)` returns an
  * array<bigint> of `blocks` sums, byte i (0-based, length n) landing in
  * block ⌊i·blocks/n⌋ (the proportional layout that keeps every block
  * within ±1 byte of even, any n). This is the integer skeleton of a
  * perceptual hash (pHash/aHash family: block statistics → sign
  * pattern): the REAL decode step needs image libs this container lacks
  * (stubbed per the multimodal contract), but block-energy
  * fingerprinting over the raw payload is the same Spark-side shape —
  * one codegen'd pass per row, no per-byte rows ever materialized.
  * Empty payloads return all-zero sums. */
case class BlockSums(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, int), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def nullSafeEval(p: Any, b: Any): Any =
    ByteOps.blockSums(p.asInstanceOf[Array[Byte]], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (p, b) => s"graft.expr.ByteOps.blockSums($p, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
  : BlockSums = copy(left = l, right = r)
  override def prettyName: String = "block_sums"
}

/** Static forwarder home for [[BlockSums]] (the ZOrderUtil janino
  * convention). */
object ByteOps {
  def blockSums(bytes: Array[Byte], blocks: Int)
  : org.apache.spark.sql.catalyst.util.ArrayData = {
    require(blocks >= 1, s"block_sums: blocks must be >= 1, got $blocks")
    val out = new Array[Long](blocks)
    val n = bytes.length
    var i = 0
    while (i < n) {
      out((i.toLong * blocks / n).toInt) += (bytes(i) & 0xFF).toLong
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

private[graft] object JsonSupport {
  val mapper = new ObjectMapper()

  /** Recursive $$-prune, field order preserved (Jackson ObjectNode keeps
    * insertion order). Matches the reference's in-place mutation
    * semantics: $$meta is kept AND recursed into. */
  def stripDollar(node: JsonNode): JsonNode = {
    node match {
      case o: ObjectNode =>
        val names = new scala.collection.mutable.ArrayBuffer[String]()
        o.fieldNames().forEachRemaining(n => names += n)
        names.foreach { n =>
          if (n.startsWith("$$") && n != "$$meta") o.remove(n)
          else stripDollar(o.get(n))
        }
      case a if a != null && a.isArray =>
        a.elements().forEachRemaining(e => { stripDollar(e); () })
      case _ =>
    }
    node
  }

  /** RFC 7386 merge-patch. */
  def mergePatch(target: JsonNode, patch: JsonNode): JsonNode = {
    if (!patch.isObject) return patch
    val result: ObjectNode =
      if (target.isObject) target.asInstanceOf[ObjectNode]
      else mapper.createObjectNode()
    val it = patch.fields()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isNull) result.remove(e.getKey)
      else if (result.has(e.getKey))
        result.set(e.getKey, mergePatch(result.get(e.getKey), e.getValue))
      else result.set(e.getKey, mergePatch(mapper.createObjectNode(), e.getValue))
    }
    result
  }
}

/** OPTIMAL piece segmentation count (SURVEY §2.10 / tokenizer family):
  * `min_pieces(word, vocab)` = the minimum number of vocab pieces that
  * exactly concatenate to `word` (unigram-LM Viterbi with unit piece
  * costs — the EXACT-integer objective, where real SentencePiece scores
  * are float log-probs), or -1 if no cover exists. The contrast query
  * to txt_bpe_encode's greedy merge replay: greedy is what BPE does,
  * min-pieces is the optimum a tokenizer's token COUNT is budgeted
  * against.
  *
  * DP is O(|word| · maxPieceLen) per row with an O(1)-amortized vocab
  * set: when `vocab` is foldable (the corpus-trained literal the graded
  * query binds) the set and max piece length are built ONCE per
  * executor at plan deserialization, not per row. Codegen keeps the
  * surrounding stage whole (one virtual call, the JavaStringHash
  * pattern). Null word or null vocab → null; null vocab ELEMENTS are
  * ignored. */
case class MinPieces(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  private def buildSet(arr: org.apache.spark.sql.catalyst.util.ArrayData)
  : (java.util.HashSet[String], Int) = {
    val set = new java.util.HashSet[String]()
    var maxLen = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val p = arr.getUTF8String(i).toString
        if (p.nonEmpty) {
          set.add(p)
          if (p.length > maxLen) maxLen = p.length
        }
      }
      i += 1
    }
    (set, maxLen)
  }

  // the once-per-plan vocab: foldable vocab (the production shape)
  // evaluates at first use and is reused by every row
  @transient private lazy val staticVocab
  : Option[(java.util.HashSet[String], Int)] =
    if (right.foldable) {
      val v = right.eval(null)
      if (v == null) None
      else Some(buildSet(
        v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]))
    } else None

  /** The DP, exposed for codegen: d(i) = min pieces covering the first
    * i chars; d(i) = 1 + min over piece lengths l with s[i-l..i) in the
    * vocab. -1 when d(n) is unreachable. */
  def compute(word: UTF8String,
              vocabArr: org.apache.spark.sql.catalyst.util.ArrayData)
  : Int = {
    val (set, maxLen) = staticVocab.getOrElse(buildSet(vocabArr))
    val s = word.toString
    val n = s.length
    if (n == 0) return 0
    if (maxLen == 0) return -1
    val NoCover = Int.MaxValue
    val d = new Array[Int](n + 1)
    var i = 1
    while (i <= n) { d(i) = NoCover; i += 1 }
    i = 1
    while (i <= n) {
      val lm = if (maxLen < i) maxLen else i
      var l = 1
      while (l <= lm) {
        val prev = d(i - l)
        if (prev != NoCover && prev + 1 < d(i) &&
            set.contains(s.substring(i - l, i)))
          d(i) = prev + 1
        l += 1
      }
      i += 1
    }
    if (d(n) == NoCover) -1 else d(n)
  }

  override def nullSafeEval(w: Any, v: Any): Any =
    compute(w.asInstanceOf[UTF8String],
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val self = ctx.addReferenceObj("minPieces", this,
      classOf[MinPieces].getName)
    defineCodeGen(ctx, ev, (w, v) => s"$self.compute($w, $v)")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): MinPieces = copy(left = l, right = r)
  override def prettyName: String = "min_pieces"
}

/** Exact |A ∩ B| over two SORTED-ascending string arrays with no null
  * elements (a `sort_array(collect_list(...))` of per-key-distinct
  * tokens — the prefixJaccardJoin verify arm): one two-pointer merge
  * pass, no per-row hash set, no materialized intersection array. The
  * `size(array_intersect(a, b))` form it replaces builds an OpenHashSet
  * AND the result array per candidate pair — measured as the dominant
  * per-row cost of the dd_ppjoin verify stage (guide §1.2 step 2,
  * per-task work). Count-identical on sorted distinct inputs: both
  * sides deduplicate, and UTF8String binary order is exactly
  * sort_array's StringType order. Whole-stage-codegen'd via the
  * MinPieces self-reference pattern. */
case class SortedInterCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_inter_count needs (array<string>, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp < 0) i += 1
      else if (cmp > 0) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
  : ExprCode = {
    val self = ctx.addReferenceObj("sortedInterCount", this,
      classOf[SortedInterCount].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$self.compute($a, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SortedInterCount = copy(left = l, right = r)
  override def prettyName: String = "sorted_inter_count"
}

/** Session-level registration + typed Column wrappers. Registration is
  * idempotent; wrappers route through call_function so they resolve via
  * the registry (the public Spark 4 path from Expression to Column). */
object GraftFunctions {
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions.call_function

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "remove_dollar_fields" -> (es => RemoveDollarFields(es.head)),
    "json_merge_patch" -> (es => JsonMergePatch(es.head, es(1))),
    "java_string_hash" -> (es => JavaStringHash(es.head)),
    "dot_ff" -> (es => DotProductFF(es.head, es(1))),
    "dot_ll" -> (es => DotProductLL(es.head, es(1))),
    "nearest_cell" -> (es => NearestCell(es.head, es(1), es(2))),
    "zorder16" -> (es => ZOrder16(es.head, es(1))),
    "hilbert16" -> (es => Hilbert16(es.head, es(1))),
    "block_sums" -> (es => BlockSums(es.head, es(1))),
    // runtime bloom-join filtering — Spark ships these expressions for its
    // InjectRuntimeFilter rule but does not expose them; registering the
    // same pair (key pre-hashed with xxhash64, as that rule does) makes
    // the explicit form available to ops/Bloom and SQL clients.
    "bloom_agg" -> (es =>
      new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(new XxHash64(Seq(es.head)), es(1))),
    "might_contain" -> (es =>
      BloomFilterMightContain(es.head, new XxHash64(Seq(es(1))))),
    "explode_windows" -> (es => ExplodeWindows(es.head, es(1))),
    "min_pieces" -> (es => MinPieces(es.head, es(1))),
    "sorted_inter_count" -> (es => SortedInterCount(es.head, es(1))),
    // KMV sketch-propagation aggregate (reachSketch) — the analyzer
    // wraps the returned AggregateFunction, the bloom_agg precedent
    "kmv_merge_arr" -> (es => KmvMergeArr(es.head, KmvMergeArr.litK(es(1)))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
  }

  def remove_dollar_fields(c: Column): Column =
    call_function("remove_dollar_fields", c)
  def json_merge_patch(t: Column, p: Column): Column =
    call_function("json_merge_patch", t, p)
  def java_string_hash(c: Column): Column =
    call_function("java_string_hash", c)
  /** Unsigned 32-bit view of [[java_string_hash]] — the engine's ONE
    * cross-checkable hash idiom (DuckDB mirror: CASE h<0 THEN h+2^32).
    * Every operator that hashes for sampling/bucketing/chunking must use
    * this helper, not a local copy, so oracle parity can't drift. */
  def java_hash_u32(c: Column): Column =
    java_string_hash(c).cast("long")
      .bitwiseAND(org.apache.spark.sql.functions.lit(0xFFFFFFFFL))
  def dot_ff(a: Column, b: Column): Column =
    call_function("dot_ff", a, b)
  def dot_ll(a: Column, b: Column): Column =
    call_function("dot_ll", a, b)
  def nearest_cell(q: Column, qNorm: Column, cells: Column): Column =
    call_function("nearest_cell", q, qNorm, cells)
  def zorder16(x: Column, y: Column): Column =
    call_function("zorder16", x, y)
  def hilbert16(x: Column, y: Column): Column =
    call_function("hilbert16", x, y)
  def block_sums(payload: Column, blocks: Column): Column =
    call_function("block_sums", payload, blocks)
  def bloom_agg(key: Column, expectedItems: Column): Column =
    call_function("bloom_agg", key, expectedItems)
  def might_contain(bloom: Column, key: Column): Column =
    call_function("might_contain", bloom, key)
  def explode_windows(arr: Column, width: Column): Column =
    call_function("explode_windows", arr, width)
  def min_pieces(word: Column, vocab: Column): Column =
    call_function("min_pieces", word, vocab)
  def kmv_merge_arr(entries: Column, k: Column): Column =
    call_function("kmv_merge_arr", entries, k)
  def sorted_inter_count(a: Column, b: Column): Column =
    call_function("sorted_inter_count", a, b)
}

/** Session-extension registration for deployments that configure
  * `spark.sql.extensions=graft.expr.GraftExtensions` — the functions are
  * then present in every session (incl. SQL-only clients) without a
  * register() call. */
class GraftExtensions
    extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.expr.GraftExpressions", name), b))
    }
}
