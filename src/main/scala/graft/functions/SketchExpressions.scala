package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native sketch expressions over a BIGINT-array of token hashes.
  *
  * The higher-order-builtin formulations (`transform`/`aggregate`
  * lambdas, see TextFeatures) are semantically identical but evaluate
  * one interpreted lambda call per element per hash function — ~64×n
  * closure invocations per row for MinHash. These expressions run the
  * same arithmetic as a single fused loop under whole-stage codegen:
  * no lambdas, no intermediate arrays, no extra shuffle. Specs prove
  * bit-equality with the builtin forms (which the DuckDB oracle mirrors).
  */

/** 64-hash MinHash signature: sig_i = min over tokens of
  * (a_i·h + b_i) mod P with the seeded-random affine family of
  * TextFeatures.minhashA/B — TextFeatures.minhashSigSpark semantics.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Evaluates to null on an EMPTY input array (no tokens → no signature),
  // not only on a null input — without this override, null-aware rewrites
  // could miscompile and the codegen `isNull = true` branch under a
  // declared-non-nullable expression is a Janino error (ADVICE r3).
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val a = TextFeatures.minhashAArr
    val b = TextFeatures.minhashBArr
    val sig = Array.fill(TextFeatures.NumHashes)(Long.MaxValue)
    var k = 0
    while (k < n) {
      val h = arr.getLong(k)
      var i = 0
      while (i < TextFeatures.NumHashes) {
        val v = (a(i) * h + b(i)) % TextFeatures.P
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      k += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val sig = ctx.freshName("sig")
        val k = ctx.freshName("k")
        val i = ctx.freshName("i")
        val h = ctx.freshName("h")
        val v = ctx.freshName("v")
        val nh = TextFeatures.NumHashes
        val p = TextFeatures.P
        val aRef = ctx.addReferenceObj("minhashA", TextFeatures.minhashAArr, "long[]")
        val bRef = ctx.addReferenceObj("minhashB", TextFeatures.minhashBArr, "long[]")
        s"""
           |if ($c.numElements() == 0) {
           |  ${ev.isNull} = true;
           |} else {
           |  long[] $sig = new long[$nh];
           |  java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |  for (int $k = 0; $k < $c.numElements(); $k++) {
           |    long $h = $c.getLong($k);
           |    for (int $i = 0; $i < $nh; $i++) {
           |      long $v = ($aRef[$i] * $h + $bRef[$i]) % ${p}L;
           |      if ($v < $sig[$i]) $sig[$i] = $v;
           |    }
           |  }
           |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
           |}
         """.stripMargin
      }
    )

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** 32-bit SimHash fingerprint: bit j = sign of Σ_tokens (±1 by bit j of
  * the token hash) — TextFeatures.simhashSpark semantics.
  */
case class SimHash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](32)
    var k = 0
    while (k < arr.numElements()) {
      val h = arr.getLong(k)
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      k += 1
    }
    var fp = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val counts = ctx.freshName("counts")
        val k = ctx.freshName("k")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val fp = ctx.freshName("fp")
        s"""
           |int[] $counts = new int[32];
           |for (int $k = 0; $k < $c.numElements(); $k++) {
           |  long $h = $c.getLong($k);
           |  for (int $j = 0; $j < 32; $j++) {
           |    if ((($h >> $j) & 1L) == 1L) $counts[$j]++; else $counts[$j]--;
           |  }
           |}
           |long $fp = 0L;
           |for (int $j = 0; $j < 32; $j++) {
           |  if ($counts[$j] > 0) $fp |= (1L << $j);
           |}
           |${ev.value} = $fp;
         """.stripMargin
      }
    )

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)

  override def prettyName: String = "simhash32"
}

/** Dot product of two DOUBLE arrays as one fused codegen loop —
  * bit-identical to the builtin-lambda form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0.0, (acc,v) -> acc+v)`
  * (same sequential left-fold order ⇒ same IEEE sum, so the DuckDB
  * oracle mirror is unchanged), but without the ~2n interpreted lambda
  * invocations and the intermediate product array per row. Null on
  * length mismatch, mirroring zip_with's null-padding semantics, and
  * null when either array holds a null element — the builtin fold's
  * `acc + NULL` poisons the whole sum to NULL, so we must too
  * (ADVICE r4: getDouble over a null slot would otherwise return an
  * undefined number and silently diverge from the oracle).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $a.numElements(); $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += $a.getDouble($i) * $b.getDouble($i);
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $acc; }
           |}
         """.stripMargin
      }
    )

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Fused word-hash + n-gram-fold: `wordNgramHashes(ws, n)` over an
  * ARRAY<STRING> of words ≡ the builtin-lambda composition
  * `transform(sequence(...), i -> aggregate(slice(transform(ws, w ->
  * charRollingHash(w)), i, n), 0L, (acc, h) -> (acc·31 + h) mod P))`
  * with the short-doc fallback (size < n → one whole-array fold; empty
  * → [0]) — the test reference DedupReference.hashedNgramsSpark, proven bit-equal
  * in NgramHashSpec (the DuckDB oracle mirrors the lambda form).
  *
  * Why (r14 OPTIMIZATION, guide step "eliminate non-codegen expressions
  * in the hot path"): `transform`/`aggregate`/`slice` are
  * CodegenFallback higher-order functions — the old composition dropped
  * the WHOLE feature projection out of whole-stage codegen and paid,
  * per document, one interpreted closure per word (char hash) plus per
  * n-gram window a slice allocation and n boxed fold invocations. This
  * expression is two flat loops (byte-hash each word once, then n
  * multiply-adds per window) with no allocation beyond the output
  * array, inside whole-stage codegen. It feeds every hashed-shingle
  * consumer (the dedup tier via hashedSetsOf/docFeaturesOf, the
  * decontamination pair, span/source-novelty, curation n-grams).
  *
  * Null semantics replicate the lambda form exactly: null input → null;
  * a null WORD poisons exactly the windows containing it to null (the
  * fold's acc·31 + NULL); values < 2^30 so acc·31 + h < 2^35 — no
  * overflow.
  */
case class WordNgramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"$prettyName: n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override protected def nullSafeEval(input: Any): Any = {
    val words = input.asInstanceOf[ArrayData]
    val m = words.numElements()
    val wh = new Array[Long](m)
    val wn = new Array[Boolean](m)
    var k = 0
    while (k < m) {
      if (words.isNullAt(k)) wn(k) = true
      else {
        val s = words.getUTF8String(k)
        var acc = 0L
        var i = 0
        val nb = s.numBytes()
        while (i < nb) {
          acc = (acc * 31L + (s.getByte(i) & 0xff)) % 1000000007L
          i += 1
        }
        wh(k) = acc
      }
      k += 1
    }
    val cnt = if (m < n) 1 else m - n + 1
    val out = new Array[Any](cnt)
    var i = 0
    while (i < cnt) {
      val end = if (m < n) m else i + n
      var acc = 0L
      var anyNull = false
      var j = i
      while (j < end) {
        if (wn(j)) anyNull = true else acc = (acc * 31L + wh(j)) % 1000000007L
        j += 1
      }
      out(i) = if (anyNull) null else Long.box(acc)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val m = ctx.freshName("m")
        val wh = ctx.freshName("wh")
        val wn = ctx.freshName("wn")
        val k = ctx.freshName("k")
        val s = ctx.freshName("s")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val nb = ctx.freshName("nb")
        val cnt = ctx.freshName("cnt")
        val out = ctx.freshName("out")
        val end = ctx.freshName("end")
        val anyNull = ctx.freshName("anyNull")
        s"""
           |int $m = $c.numElements();
           |long[] $wh = new long[$m];
           |boolean[] $wn = new boolean[$m];
           |for (int $k = 0; $k < $m; $k++) {
           |  if ($c.isNullAt($k)) { $wn[$k] = true; }
           |  else {
           |    org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($k);
           |    long $acc = 0L;
           |    int $nb = $s.numBytes();
           |    for (int $i = 0; $i < $nb; $i++) {
           |      $acc = ($acc * 31L + ($s.getByte($i) & 0xFF)) % 1000000007L;
           |    }
           |    $wh[$k] = $acc;
           |  }
           |}
           |int $cnt = ($m < $n) ? 1 : ($m - $n + 1);
           |Object[] $out = new Object[$cnt];
           |for (int $i = 0; $i < $cnt; $i++) {
           |  int $end = ($m < $n) ? $m : ($i + $n);
           |  long $acc = 0L;
           |  boolean $anyNull = false;
           |  for (int $j = $i; $j < $end; $j++) {
           |    if ($wn[$j]) { $anyNull = true; }
           |    else { $acc = ($acc * 31L + $wh[$j]) % 1000000007L; }
           |  }
           |  $out[$i] = $anyNull ? null : (Object) java.lang.Long.valueOf($acc);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      }
    )

  override protected def withNewChildInternal(newChild: Expression): WordNgramHashes =
    copy(child = newChild)

  override def prettyName: String = "word_ngram_hashes"
}

/** Occurrence count of a tiny literal string set inside an ARRAY<STRING>:
  * `countInSet(ws, Seq("the", "a", ...))` ≡ the builtin-lambda form
  * `size(filter(ws, t -> array_contains(array(...), t)))` — proven
  * element-for-element in CountInSetSpec (the DuckDB oracle mirrors the
  * lambda form).
  *
  * Why (r14 OPTIMIZATION, guide step "eliminate non-codegen expressions
  * in the hot path"): `filter` is a CodegenFallback higher-order function
  * — every stopword/language score paid one interpreted closure call per
  * word per language, plus the filtered array materialization, just to
  * take its size. This is one flat loop over the words with a ≤8-entry
  * reference array of UTF8Strings, inside whole-stage codegen, no
  * allocation at all.
  *
  * Null semantics replicate the lambda form exactly: null input → null
  * (size(null) is null under the default non-legacy conf); a null
  * ELEMENT is dropped, not counted (array_contains(set, null) is null,
  * and filter keeps only predicate-TRUE elements). Result is INT, as
  * size() returns.
  *
  * The set is an immutable `IndexedSeq`, so two calls with equal sets
  * are equal expressions (an `Array` field would compare by reference
  * and defeat common-subexpression elimination, exchange/subquery reuse
  * and cache lookups); the loops read an array copy of it.
  */
case class CountInSet(child: Expression, set: IndexedSeq[UTF8String])
    extends UnaryExpression {

  @transient private lazy val setArr: Array[UTF8String] = set.toArray

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var cnt = 0
    var k = 0
    while (k < n) {
      if (!arr.isNullAt(k)) {
        val s = arr.getUTF8String(k)
        var i = 0
        while (i < setArr.length) {
          if (setArr(i).equals(s)) { cnt += 1; i = setArr.length }
          else i += 1
        }
      }
      k += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      c => {
        val cnt = ctx.freshName("cnt")
        val k = ctx.freshName("k")
        val i = ctx.freshName("i")
        val s = ctx.freshName("s")
        val setRef = ctx.addReferenceObj(
          "countInSet", setArr, "org.apache.spark.unsafe.types.UTF8String[]")
        s"""
           |int $cnt = 0;
           |for (int $k = 0; $k < $c.numElements(); $k++) {
           |  if (!$c.isNullAt($k)) {
           |    org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($k);
           |    for (int $i = 0; $i < $setRef.length; $i++) {
           |      if ($setRef[$i].equals($s)) { $cnt++; break; }
           |    }
           |  }
           |}
           |${ev.value} = $cnt;
         """.stripMargin
      }
    )

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)

  override def prettyName: String = "count_in_set"
}


/** The engine's native expressions, one way in: typed `Column`
  * constructors. Each wraps the expression around its argument columns,
  * so Catalyst analyzes it directly, a plan never looks a function up by
  * name, and the session that runs it needs no registration.
  *
  * `bloomAgg`/`mightContain` expose Spark's runtime-filter bloom
  * expressions, which Catalyst uses for its own AQE runtime filters but
  * does not register, for an EXPLICIT semi-join prune: build a bloom over
  * the selective build side, drop fact rows that cannot join before the
  * fact shuffle:
  * {{{
  *   fact.filter(mightContain(sel.agg(bloomAgg(xxhash64(k), est)).scalar(), xxhash64(fk)))
  * }}}
  * The prune is sound for inner joins: a bloom has no false negatives,
  * and the real join that must follow it drops the false positives.
  */
object SketchExpressions {

  def charRollingHash(c: Column): Column = column(CharRollingHash(expression(c)))

  def minhashSig(c: Column): Column = column(MinHashSig(expression(c)))

  def simhash32(c: Column): Column = column(SimHash32(expression(c)))

  def vecDot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))

  def wordNgramHashes(ws: Column, n: Int): Column = column(WordNgramHashes(expression(ws), n))

  def countInSet(ws: Column, set: Seq[String]): Column =
    column(CountInSet(expression(ws), set.map(UTF8String.fromString).toIndexedSeq))

  /** Bloom filter (BINARY) over a BIGINT column, sized for `est` items
    * at 8 bits each. `est` goes in as a `Literal`: the `Long`
    * constructor would size for a target false-positive rate and build a
    * different filter (BloomPruneSpec pins the bit size).
    */
  def bloomAgg(c: Column, est: Long): Column =
    column(new BloomFilterAggregate(expression(c), Literal(est)).toAggregateExpression())

  /** False only when `c` is certainly absent from the bloom `bf` (a
    * scalar subquery or a literal).
    */
  def mightContain(bf: Column, c: Column): Column =
    column(BloomFilterMightContain(expression(bf), expression(c)))
}
