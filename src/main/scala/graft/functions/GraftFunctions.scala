package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, GenericInternalRow, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with `doGenCode`) for the hot paths the
  * built-in function library can't express efficiently:
  *
  *  - `hamming_dist(long, long)` — popcount of xor; SimHash near-dup
  *    verification. A Scala UDF here would box both longs per row.
  *  - `cosine_sim(array<double>, array<double>)` — fused dot/norm loop;
  *    the `aggregate`+`zip_with` composition allocates an intermediate
  *    array per row, this is a single pass with no allocation.
  *
  * Both participate in whole-stage codegen (no CodegenFallback), keeping
  * similarity-search scans inside one generated loop.
  */
object GraftFunctions {

  case class HammingDistance(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "hamming_dist"
  }

  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0
      else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
        val ny = ctx.freshName("ny")
        val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xi = $a.getDouble($i);
           |  double $yi = $b.getDouble($i);
           |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
           |}
           |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
           |  : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
         """.stripMargin
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "cosine_sim"
  }

  /** Random-hyperplane LSH signatures in ONE expression: emits
    * `array<long>` of `nTables` sign-bit signatures (`nBits` bits each)
    * for an `array<double>` vector. The hyperplane matrix is derived
    * deterministically from (table, bit, dim, seed) via a splitmix-style
    * mix, materialized lazily per task on first row (so the vector
    * dimension is discovered from the data — no driver action, no model
    * shipping) and cached for the remaining rows.
    *
    * This replaces a dim×nBits×nTables column-expression unrolling
    * (≈37k Catalyst nodes at dim=768) with a single codegen'd kernel
    * call per row.
    */
  case class LshSignatures(child: Expression, nBits: Int, nTables: Int,
                           seed: Long) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // Single volatile reference to an immutable (dim, matrix) pair: a
    // reader takes ONE read and validates dim from it, so mixed-dimension
    // input can never pair a dim check with a matrix built for a different
    // dim (two separate volatile fields could).
    @transient @volatile private var cached: (Int, Array[Array[Double]]) = _

    private def hyperplane(table: Int, bit: Int, d: Int): Double = {
      var z = seed ^ (table.toLong << 40) ^ (bit.toLong << 20) ^ d.toLong
      z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
      z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
      z ^= (z >>> 33)
      z.toDouble / Long.MaxValue.toDouble // (-1, 1)
    }

    /** Benign-race lazy build: concurrent tasks compute identical
      * matrices for the same dim; the single volatile pair write is
      * atomic, and each caller reads the pair once.
      */
    private def planesFor(dim: Int): Array[Array[Double]] = {
      val c = cached
      if (c != null && c._1 == dim) c._2
      else {
        val m = Array.tabulate(nTables * nBits, dim) { (r, d) =>
          hyperplane(r / nBits, r % nBits, d)
        }
        cached = (dim, m)
        m
      }
    }

    /** Public so generated code can call back into this instance. */
    def sigs(vec: ArrayData): Array[Long] = {
      val dim = vec.numElements()
      val m = planesFor(dim)
      val out = new Array[Long](nTables)
      var t = 0
      while (t < nTables) {
        var sig = 0L
        var b = 0
        while (b < nBits) {
          val p = m(t * nBits + b)
          var dot = 0.0
          var d = 0
          while (d < dim) { dot += vec.getDouble(d) * p(d); d += 1 }
          if (dot > 0) sig |= 1L << b
          b += 1
        }
        out(t) = sig
        t += 1
      }
      out
    }

    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(sigs(v.asInstanceOf[ArrayData]))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[LshSignatures].getName
      val ref = ctx.addReferenceObj("lshSig", this, cls)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = new ${classOf[GenericArrayData].getName}($ref.sigs($a));")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "lsh_sigs"
  }

  /** Int8 sketch of an `array<double>` vector for the candidate-refine
    * stage of blocked near-dup search:
    * `struct<q: binary, s: double, n: double, l1: double>` with
    * `q(i) = round(x(i)/s)` ∈ [-127,127], `s = max|x|/127`, `n` the
    * EXACT L2 norm of x, and `l1 = s·Σ|q(i)|` (the L1 norm of the
    * reconstruction — the term [[QuantizedCosineUpper]]'s error bound
    * needs). The sketch is `dim` bytes + 24, vs `8·dim` for the raw
    * vector — the point is shrinking what candidate pairs carry
    * through shuffles, not lossy scoring: the paired upper bound is
    * sound, so a downstream exact rescore loses nothing.
    */
  case class QuantizeVector(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("q", BinaryType, nullable = false),
      StructField("s", DoubleType, nullable = false),
      StructField("n", DoubleType, nullable = false),
      StructField("l1", DoubleType, nullable = false)))

    /** Public so generated code can call back into this instance. */
    def sketch(v: ArrayData): InternalRow = {
      val d = v.numElements()
      var maxAbs = 0.0; var n2 = 0.0; var i = 0
      while (i < d) {
        val x = v.getDouble(i)
        val ax = math.abs(x)
        if (ax > maxAbs) maxAbs = ax
        n2 += x * x; i += 1
      }
      val s = maxAbs / 127.0
      val q = new Array[Byte](d)
      var sumAbsQ = 0L
      if (s > 0.0) {
        i = 0
        while (i < d) {
          val qi = math.round(v.getDouble(i) / s).toInt
          q(i) = qi.toByte
          sumAbsQ += math.abs(qi); i += 1
        }
      }
      new GenericInternalRow(Array[Any](q, s, math.sqrt(n2), s * sumAbsQ))
    }

    override def nullSafeEval(v: Any): Any = sketch(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[QuantizeVector].getName
      val ref = ctx.addReferenceObj("quantVec", this, cls)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sketch($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "quantize_vec"
  }

  /** SOUND upper bound on `cosine(x, y)` from two [[QuantizeVector]]
    * sketches alone. With `x(i) = q(i)·s + e(i)`, `|e(i)| ≤ s/2`
    * (round-to-nearest), expanding the dot product gives
    * `|dot(x,y) − sa·sb·Σ qa(i)·qb(i)|
    *    ≤ (sb/2)·l1a + (sa/2)·l1b + d·sa·sb/4`,
    * and the norms are exact, so
    * `upper = (sa·sb·dotQ + bound)/(na·nb) ≥ cosine(x,y)` always:
    * filtering `upper ≥ t` can never drop a pair the exact filter
    * would keep. Zero-norm sketches return 1.0 (keep; the exact pass
    * decides). The integer dot stays in a long (127²·d overflows only
    * past d ≈ 5.7·10¹⁴).
    */
  case class QuantizedCosineUpper(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType

    /** Public so generated code can call back into this instance.
      * Mixed-dimension pairs return 1.0 (keep): the stored norms are
      * full-length while `cosine_sim` truncates BOTH dot and norms to
      * the shorter vector, so a truncated bound would not be an upper
      * bound on what the exact filter computes — ragged pairs skip the
      * refine and let the exact pass decide.
      */
    def upper(a: InternalRow, b: InternalRow): Double = {
      val qa = a.getBinary(0); val sa = a.getDouble(1)
      val na = a.getDouble(2); val l1a = a.getDouble(3)
      val qb = b.getBinary(0); val sb = b.getDouble(1)
      val nb = b.getDouble(2); val l1b = b.getDouble(3)
      if (na == 0.0 || nb == 0.0 || qa.length != qb.length) return 1.0
      val d = qa.length
      var dot = 0L; var i = 0
      while (i < d) { dot += qa(i).toLong * qb(i).toLong; i += 1 }
      val bound = 0.5 * sb * l1a + 0.5 * sa * l1b + 0.25 * d * sa * sb
      (sa * sb * dot + bound) / (na * nb)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      upper(a.asInstanceOf[InternalRow], b.asInstanceOf[InternalRow])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[QuantizedCosineUpper].getName
      val ref = ctx.addReferenceObj("qcosUpper", this, cls)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.upper($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "qcos_upper"
  }

  /** Distinct word k-shingles of an `array<string>` of tokens in ONE
    * kernel call: the compositional form
    * (`array_distinct(transform(sequence, i => concat_ws(slice...)))`)
    * allocates a slice array + string per position and then runs an
    * O(n²) distinct — measured 4× slower than the whole tokenize stage.
    * Here: one pass, one hash set, one output array.
    */
  case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)

    /** Public so generated code can call it. */
    def shingle(toks: ArrayData): ArrayData = {
      val n = toks.numElements()
      if (n < k) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      val space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
      var i = 0
      while (i <= n - k) {
        val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
        var j = 0
        while (j < k) {
          parts(j) = toks.getUTF8String(i + j)
          j += 1
        }
        seen.add(org.apache.spark.unsafe.types.UTF8String.concatWs(space, parts: _*))
        i += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
    }

    override def nullSafeEval(v: Any): Any = shingle(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[WordShingles].getName
      val ref = ctx.addReferenceObj("shingler", this, cls)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.shingle($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "word_shingles"
  }

  /** The emit step of the near-dup Jaccard kernel: from one posting
    * list (`array<bigint>`, a [[CappedIdsAgg]] result; null emits
    * nothing) it emits (ida, idb) = (min, max) for every pair of list
    * positions holding different ids, plus one (id, id) row per
    * position. Counting the rows by (ida, idb) then yields each pair's
    * shared-shingle count (ida < idb) and each id's kept-shingle count
    * (ida = idb) from the same exchange. A list of n ids emits at most
    * n(n+1)/2 rows, streamed: an interpreted `transform(sequence(…))`
    * + `explode` would evaluate a lambda per position and materialize
    * every list's pair array first.
    */
  case class IdPairs(child: Expression)
      extends UnaryExpression with Generator with CodegenFallback {
    override def elementSchema: StructType = StructType(Seq(
      StructField("ida", LongType, nullable = false),
      StructField("idb", LongType, nullable = false)))

    // one reused output row: the Generate operator projects each row
    // before it asks for the next, so a pair costs no allocation
    @transient private lazy val out =
      new SpecificInternalRow(Seq[DataType](LongType, LongType))

    override def eval(input: InternalRow): IterableOnce[InternalRow] = {
      val v = child.eval(input)
      if (v == null) return Iterator.empty
      val ids = v.asInstanceOf[ArrayData].toLongArray()
      val n = ids.length
      val row = out
      new Iterator[InternalRow] {
        private var i = 0
        private var j = 0 // j == i: the (id, id) row of position i
        private def advance(): Unit = {
          j += 1
          if (j >= n) { i += 1; j = i }
          // skip later positions holding the same id as position i
          while (i < n && j > i && ids(j) == ids(i)) {
            j += 1
            if (j >= n) { i += 1; j = i }
          }
        }
        override def hasNext: Boolean = i < n
        override def next(): InternalRow = {
          val (a, b) = (ids(i), ids(j))
          row.setLong(0, math.min(a, b)); row.setLong(1, math.max(a, b))
          advance()
          row
        }
      }
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "id_pairs"
  }

  /** Gap-encode a sorted `array<int>`: first element absolute, every
    * later element the delta to its predecessor. The positional-postings
    * storage transform ([[graft.operators.Retrieval]] `<table>_pos`):
    * token offsets are near-unique ints that defeat parquet dictionary
    * encoding, while their gaps are small and heavily repeated — the
    * classic inverted-index d-gap trick — so the dominant write volume
    * of a positional build drops without changing a single query
    * result ([[DeltaDecode]] restores the absolute offsets exactly).
    */
  case class DeltaEncode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    /** Public so generated code can call it. */
    def enc(a: ArrayData): ArrayData = {
      val n = a.numElements()
      val out = new Array[Int](n)
      var prev = 0
      var i = 0
      while (i < n) {
        val v = a.getInt(i)
        out(i) = v - prev
        prev = v
        i += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(v: Any): Any = enc(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("denc", this, classOf[DeltaEncode].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.enc($a);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "delta_enc"
  }

  /** Codegen'd dense matrix-vector product `R · v` for a PLAN-CONSTANT
    * row-major d×d matrix — the OPQ rotation kernel
    * ([[graft.operators.ProductQuant.ivfPqBuild]] `opq = true`). The
    * matrix rides as a reference object on the expression (the
    * CmsProbe payload discipline: one deserialization per task), so a
    * rotate is ONE kernel node per row instead of the d-way
    * transform/slice/aggregate builtin chain over a d²-element literal
    * — which carried d copies of the literal through the plan and
    * roughly DOUBLED opq-build wall at d = 64 (measured; BASELINE.md
    * OPQ section). Output: array<double>, length d.
    */
  case class MatVec(child: Expression, rot: Array[Double])
      extends UnaryExpression {
    private val dim = math.sqrt(rot.length.toDouble).toInt
    require(dim * dim == rot.length,
      s"mat_vec: matrix of ${rot.length} cells is not square")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

    /** Public so generated code can call it. */
    def mv(a: ArrayData): ArrayData = {
      val out = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        val base = i * dim
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += rot(base + j) * a.getDouble(j); j += 1 }
        out(i) = acc
        i += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(v: Any): Any = mv(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("mv", this, classOf[MatVec].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.mv($a);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "mat_vec"
  }

  /** Inverse of [[DeltaEncode]]: running sum restores the absolute
    * sorted offsets. */
  case class DeltaDecode(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    /** Public so generated code can call it. */
    def dec(a: ArrayData): ArrayData = {
      val n = a.numElements()
      val out = new Array[Int](n)
      var acc = 0
      var i = 0
      while (i < n) {
        acc += a.getInt(i)
        out(i) = acc
        i += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(v: Any): Any = dec(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ddec", this, classOf[DeltaDecode].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.dec($a);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "delta_dec"
  }

  /** MinHash signatures in one pass over an `array<long>` of base
    * shingle hashes: `numHashes` universal-hash permutations
    * h_j(x) = a_j·x + b_j (odd a_j, both seeded), min per permutation.
    * The compositional form re-hashes every shingle STRING once per
    * signature row (64 xxhash64 evaluations per shingle); this kernel
    * hashes each shingle once upstream and mixes 64 multiply-adds per
    * element in a single traversal. Empty input → all Long.MaxValue
    * (matches the coalesce convention of the old form).
    */
  case class MinHashSigs(child: Expression, numHashes: Int, seed: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // array<string> input hashes elements inline with Spark's own XXH64
    // (seed 42 — bit-identical to a `transform(a, s => xxhash64(s))`
    // pre-pass, which as a higher-order function evaluates interpreted
    // with per-element boxing; fusing it here keeps shingle hashing
    // inside the kernel loop)
    @transient private lazy val stringInput: Boolean = child.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    private def elem(a: ArrayData, i: Int): Long =
      if (stringInput)
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          a.getUTF8String(i), StringType, 42L)
      else a.getLong(i)

    @transient private lazy val coefA: Array[Long] = Array.tabulate(numHashes) { j =>
      mix64(seed ^ (j.toLong << 32) ^ 0xa5a5a5a5L) | 1L // odd multiplier
    }
    @transient private lazy val coefB: Array[Long] = Array.tabulate(numHashes) { j =>
      mix64(seed ^ (j.toLong << 16) ^ 0x5a5a5a5aL)
    }

    private def mix64(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    /** Public so generated code can call it. */
    def sigs(hashes: ArrayData): ArrayData = {
      val n = hashes.numElements()
      val out = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = elem(hashes, i)
        var j = 0
        while (j < numHashes) {
          val p = coefA(j) * h + coefB(j)
          if (p < out(j)) out(j) = p
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(v: Any): Any = sigs(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[MinHashSigs].getName
      val ref = ctx.addReferenceObj("minhash", this, cls)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.sigs($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "minhash_sigs"
  }

  /** One-pass 64-bit SimHash fold over an `array<long>` of token hashes:
    * per bit, count tokens with the bit set vs total; sign → bit. The
    * column-expression formulation needs 64 `size(filter(...))`
    * traversals of the array per row; this kernel is a single traversal
    * with a 64-counter accumulator, inside whole-stage codegen.
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType

    // same fused string-hash mode as MinHashSigs (XXH64 seed 42,
    // bit-identical to an xxhash64 transform pre-pass)
    @transient private lazy val stringInput: Boolean = child.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    private def elem(a: ArrayData, i: Int): Long =
      if (stringInput)
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          a.getUTF8String(i), StringType, 42L)
      else a.getLong(i)

    /** Public so generated code can call it. */
    def fold(hashes: ArrayData): Long = {
      val n = hashes.numElements()
      val counts = new Array[Int](64)
      var i = 0
      while (i < n) {
        val h = elem(hashes, i)
        var b = 0
        while (b < 64) {
          counts(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        // bit set iff strictly more ones than zeros (2*ones - n > 0)
        if (2 * counts(b) - n > 0) sig |= 1L << b
        b += 1
      }
      sig
    }

    override def nullSafeEval(v: Any): Any = fold(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[SimHash64].getName
      val ref = ctx.addReferenceObj("simhash", this, cls)
      defineCodeGen(ctx, ev, a => s"$ref.fold($a)")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "simhash64"
  }

  /** Top-`n` IVF centroids for one vector in ONE fused loop:
    * `ivf_top_cents(vec, cents, n)` scores every centroid of the
    * (broadcast-folded) `array<struct<cid,cvec>>` by cosine and returns
    * the `n` best cids ordered (cos desc, cid asc). This is the
    * assignment/probe hot path of the IVF family: the compositional
    * form — `slice(array_sort(transform(cents, ct => struct(-cos, cid))))`
    * — evaluates the lambda interpreted per centroid with per-element
    * boxing and allocates two arrays per row; at 10⁶ corpus rows ×
    * √N≈10³ centroids that interpretation tax dominates index build
    * time. Here the scan is a primitive Java loop with a bounded
    * insertion top-n (n ≤ 16) or one index sort (larger probe counts),
    * inside whole-stage codegen.
    */
  case class IvfTopCents(left: Expression, right: Expression, n: Int)
      extends BinaryExpression {
    require(n > 0, "n must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    def topCids(vecAny: ArrayData, centsAny: ArrayData): ArrayData = {
      val vec = vecAny
      val cents = centsAny
      val m = cents.numElements()
      val dim = vec.numElements()
      val v = new Array[Double](dim)
      var d = 0
      while (d < dim) { v(d) = vec.getDouble(d); d += 1 }
      var nv = 0.0
      d = 0
      while (d < dim) { nv += v(d) * v(d); d += 1 }
      val cos = new Array[Double](m)
      val cid = new Array[Long](m)
      var i = 0
      while (i < m) {
        val row = cents.getStruct(i, 2)
        cid(i) = row.getLong(0)
        val cv = row.getArray(1)
        val k = math.min(dim, cv.numElements())
        var dot = 0.0; var nc = 0.0; var j = 0
        while (j < k) {
          val cj = cv.getDouble(j)
          dot += v(j) * cj; nc += cj * cj; j += 1
        }
        cos(i) = if (nv == 0.0 || nc == 0.0) 0.0
                 else dot / (math.sqrt(nv) * math.sqrt(nc))
        i += 1
      }
      val take = math.min(n, m)
      val out = new Array[Long](take)
      // (cos desc, cid asc) — identical to the window/array_sort order
      @inline def better(a: Int, b: Int): Boolean =
        cos(a) > cos(b) || (cos(a) == cos(b) && cid(a) < cid(b))
      if (n <= 16) {
        val sel = new Array[Int](take)
        var filled = 0
        i = 0
        while (i < m) {
          if (filled < take) {
            var p = filled
            while (p > 0 && better(i, sel(p - 1))) { sel(p) = sel(p - 1); p -= 1 }
            sel(p) = i
            filled += 1
          } else if (better(i, sel(take - 1))) {
            var p = take - 1
            while (p > 0 && better(i, sel(p - 1))) { sel(p) = sel(p - 1); p -= 1 }
            sel(p) = i
          }
          i += 1
        }
        i = 0
        while (i < take) { out(i) = cid(sel(i)); i += 1 }
      } else {
        val idx = Array.range(0, m)
        val boxed = idx.sortWith((a, b) => better(a, b))
        i = 0
        while (i < take) { out(i) = cid(boxed(i)); i += 1 }
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      topCids(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ivfTop", this, classOf[IvfTopCents].getName)
      defineCodeGen(ctx, ev, (a, b) =>
        s"(${classOf[ArrayData].getName}) $ref.topCids($a, $b)")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "ivf_top_cents"
  }

  /** L2-nearest slot in a FLAT codebook: `cb` is `k` centroids of the
    * vector's dimension laid out back to back (`k · dim` doubles), and
    * the result is the index of the centroid minimizing squared
    * euclidean distance (ties → lowest index). This is the k-means
    * assignment kernel for product-quantizer TRAINING, where the
    * objective is L2 over subvectors — `ivf_top_cents` ranks by cosine
    * and cannot stand in. One fused loop, no per-centroid allocation.
    */
  case class L2Argmin(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType

    def argmin(vec: ArrayData, cb: ArrayData): Long = {
      val dim = vec.numElements()
      require(dim > 0 && cb.numElements() % dim == 0,
        s"l2_argmin: codebook length ${cb.numElements()} is not a " +
          s"multiple of the vector dimension $dim")
      val k = cb.numElements() / dim
      val v = new Array[Double](dim)
      var j = 0
      while (j < dim) { v(j) = vec.getDouble(j); j += 1 }
      var best = 0L; var bestD = Double.MaxValue
      var c = 0
      while (c < k) {
        val base = c * dim
        var d2 = 0.0; var i = 0
        while (i < dim && d2 < bestD) {
          val e = v(i) - cb.getDouble(base + i)
          d2 += e * e; i += 1
        }
        if (d2 < bestD) { bestD = d2; best = c.toLong }
        c += 1
      }
      best
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      argmin(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("l2argmin", this, classOf[L2Argmin].getName)
      defineCodeGen(ctx, ev, (a, b) => s"$ref.argmin($a, $b)")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "l2_argmin"
  }

  /** Product-quantize one vector against a trained codebook (Jégou,
    * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): the vector splits into `m` subvectors of `dim/m`
    * dimensions, each encoded as the index (one byte, `ksub ≤ 256`) of
    * its L2-nearest sub-centroid in the flat codebook `cb` (laid out
    * `[sub][code][dim]`, `m·ksub·dsub` doubles). Returns a struct of
    * the `m`-byte code word AND the exact L2 norm of the input — the
    * norm is what turns an ADC inner-product estimate back into a
    * cosine at query time, and computing it here costs one extra
    * multiply-add per element in a loop that is already touching every
    * element. Dimension mismatches throw (a wrong-codebook join would
    * otherwise corrupt every code silently).
    */
  case class PqEncode(left: Expression, right: Expression, m: Int, ksub: Int)
      extends BinaryExpression {
    require(m > 0, "m must be positive")
    require(ksub > 0 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    override def dataType: DataType = StructType(Seq(
      StructField("codes", BinaryType, nullable = false),
      StructField("nrm", DoubleType, nullable = false)))

    def encode(vec: ArrayData, cb: ArrayData): InternalRow = {
      val dim = vec.numElements()
      require(dim % m == 0,
        s"pq_encode: dimension $dim not divisible by m=$m")
      val dsub = dim / m
      require(cb.numElements() == m * ksub * dsub,
        s"pq_encode: codebook length ${cb.numElements()} != " +
          s"m*ksub*dsub = ${m * ksub * dsub}")
      val v = new Array[Double](dim)
      var n2 = 0.0
      var i = 0
      while (i < dim) {
        val x = vec.getDouble(i)
        v(i) = x; n2 += x * x; i += 1
      }
      val codes = new Array[Byte](m)
      var sub = 0
      while (sub < m) {
        val vbase = sub * dsub
        val cbase = sub * ksub * dsub
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < ksub) {
          val base = cbase + c * dsub
          var d2 = 0.0; var j = 0
          while (j < dsub && d2 < bestD) {
            val e = v(vbase + j) - cb.getDouble(base + j)
            d2 += e * e; j += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        codes(sub) = best.toByte
        sub += 1
      }
      new GenericInternalRow(Array[Any](codes, math.sqrt(n2)))
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      encode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.encode($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "pq_encode"
  }

  /** Asymmetric-distance table for one query: `out[sub·ksub + code] =
    * dot(q_sub, centroid[sub][code])` — `m·ksub` doubles computed once
    * per query, so scoring a candidate ([[PqAdcDot]]) is `m` table
    * lookups instead of `dim` multiplies. The "asymmetric" in ADC: the
    * query stays EXACT (only the corpus side is quantized), which
    * halves the quantization error vs coding both sides.
    */
  case class PqAdcTable(left: Expression, right: Expression, m: Int, ksub: Int)
      extends BinaryExpression {
    require(m > 0, "m must be positive")
    require(ksub > 0 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)

    def table(vec: ArrayData, cb: ArrayData): ArrayData = {
      val dim = vec.numElements()
      require(dim % m == 0,
        s"pq_adc_table: dimension $dim not divisible by m=$m")
      val dsub = dim / m
      require(cb.numElements() == m * ksub * dsub,
        s"pq_adc_table: codebook length ${cb.numElements()} != " +
          s"m*ksub*dsub = ${m * ksub * dsub}")
      val out = new Array[Double](m * ksub)
      var sub = 0
      while (sub < m) {
        val vbase = sub * dsub
        val cbase = sub * ksub * dsub
        var c = 0
        while (c < ksub) {
          val base = cbase + c * dsub
          var dot = 0.0; var j = 0
          while (j < dsub) {
            dot += vec.getDouble(vbase + j) * cb.getDouble(base + j)
            j += 1
          }
          out(sub * ksub + c) = dot
          c += 1
        }
        sub += 1
      }
      new GenericArrayData(out)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      table(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqTab", this, classOf[PqAdcTable].getName)
      defineCodeGen(ctx, ev, (a, b) =>
        s"(${classOf[ArrayData].getName}) $ref.table($a, $b)")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "pq_adc_table"
  }

  /** ADC inner-product estimate: sum the query's distance table
    * ([[PqAdcTable]]) at each of the candidate's `m` byte codes —
    * `dot(q, x) ≈ Σ_sub table[sub·ksub + codes[sub]]`. This is the PQ
    * scan kernel: per candidate it reads `m` bytes and does `m` array
    * lookups, so a quantized inverted list scans ~`dim/m ·
    * sizeof(double)`× less data than raw vectors at the same candidate
    * count. Length mismatches throw (a table built with a different
    * `ksub` would silently mis-index).
    */
  case class PqAdcDot(left: Expression, right: Expression, ksub: Int)
      extends BinaryExpression {
    require(ksub > 0 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    override def dataType: DataType = DoubleType

    def adc(codes: Array[Byte], table: ArrayData): Double = {
      require(codes.length * ksub == table.numElements(),
        s"pq_adc_dot: ${codes.length}-byte codes with ksub=$ksub need a " +
          s"${codes.length * ksub}-entry table, got ${table.numElements()}")
      var s = 0.0; var sub = 0
      while (sub < codes.length) {
        s += table.getDouble(sub * ksub + (codes(sub) & 0xFF))
        sub += 1
      }
      s
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      adc(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdcDot].getName)
      defineCodeGen(ctx, ev, (a, b) => s"$ref.adc($a, $b)")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
    override def prettyName: String = "pq_adc_dot"
  }

  /** Codegen'd probe into a driver-built Count-Min Sketch
    * (`df.stat.countMinSketch`): the serialized sketch rides in the plan
    * as a binary literal and is deserialized ONCE per executor through
    * the codegen reference object — not per row, and with no UDF
    * boxing/serialization seam, so the probing scan stays inside
    * whole-stage codegen (the t12 heavy-hitter gate's UDF probe was the
    * one codegen break in that plan).
    */
  case class CmsProbe(child: Expression, sketchBytes: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    @transient private lazy val sketch =
      org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(sketchBytes))
    def estimate(w: org.apache.spark.unsafe.types.UTF8String): Long =
      sketch.estimateCount(w.toString)
    override def nullSafeEval(v: Any): Any =
      estimate(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("cms", this, classOf[CmsProbe].getName)
      defineCodeGen(ctx, ev, a => s"$ref.estimate($a)")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "cms_probe"
  }

  /** Codegen'd probe into a driver-built Bloom filter
    * (`df.stat.bloomFilter` over a long key column). Same pattern as
    * `CmsProbe`: sketch-as-literal, one deserialization per executor,
    * no codegen break. (Spark's own runtime bloom pushdown has an
    * internal `might_contain`, but it is only planted by the
    * InjectRuntimeFilter rule — there is no public probe expression.)
    */
  case class BloomProbe(child: Expression, bloomBytes: Array[Byte])
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    @transient private lazy val bloom =
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bloomBytes))
    def probe(k: Long): Boolean = bloom.mightContainLong(k)
    override def nullSafeEval(v: Any): Any = probe(v.asInstanceOf[Long])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloom", this, classOf[BloomProbe].getName)
      defineCodeGen(ctx, ev, a => s"$ref.probe($a)")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "bloom_probe"
  }

  /** Sessions this classloader's builders are already installed in.
    * Weak keys: no strong reference pins a retired session in
    * multi-session deployments.
    */
  private val installed = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register the graft functions in the session's FunctionRegistry.
    * Idempotent and quiet: the per-session marker (not a bare
    * name-exists check) makes re-entry a no-op — so the registry's
    * replace-WARN never floods bench/verify logs when every query entry
    * re-registers — while the FIRST pass per (session, classloader)
    * always `createOrReplaceTempFunction`s, so a stale builder from an
    * earlier code load, or a same-named function registered by other
    * code before us, is replaced by this classloader's builders rather
    * than silently winning forever.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    if (installed.containsKey(spark)) return
    val reg = spark.sessionState.functionRegistry
    def put(name: String)(builder: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    put("hamming_dist")(es => HammingDistance(es.head, es(1)))
    put("cosine_sim")(es => CosineSimilarity(es.head, es(1)))
    put("simhash64")(es => SimHash64(es.head))
    put("minhash_sigs")(es => MinHashSigs(es.head,
      es(1).eval().asInstanceOf[Number].intValue(),
      es(2).eval().asInstanceOf[Number].longValue()))
    put("word_shingles")(es => WordShingles(es.head,
      es(1).eval().asInstanceOf[Number].intValue()))
    put("lsh_sigs")(es => LshSignatures(es.head,
      es(1).eval().asInstanceOf[Number].intValue(),
      es(2).eval().asInstanceOf[Number].intValue(),
      es(3).eval().asInstanceOf[Number].longValue()))
    put("quantize_vec")(es => QuantizeVector(es.head))
    put("qcos_upper")(es => QuantizedCosineUpper(es.head, es(1)))
    put("topk_score")(es => TopKScoreAgg(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue()))
    put("capped_ids")(es => CappedIdsAgg(es.head,
      es(1).eval().asInstanceOf[Number].intValue()))
    put("id_pairs")(es => IdPairs(es.head))
    put("ivf_top_cents")(es => IvfTopCents(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue()))
    put("l2_argmin")(es => L2Argmin(es.head, es(1)))
    put("pq_encode")(es => PqEncode(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue(),
      es(3).eval().asInstanceOf[Number].intValue()))
    put("pq_adc_table")(es => PqAdcTable(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue(),
      es(3).eval().asInstanceOf[Number].intValue()))
    put("pq_adc_dot")(es => PqAdcDot(es.head, es(1),
      es(2).eval().asInstanceOf[Number].intValue()))
    put("delta_enc")(es => DeltaEncode(es.head))
    put("delta_dec")(es => DeltaDecode(es.head))
    put("mat_vec")(es => MatVec(es.head,
      es(1).eval().asInstanceOf[ArrayData].toDoubleArray()))
    put("cms_probe")(es => CmsProbe(es.head,
      es(1).eval().asInstanceOf[Array[Byte]]))
    put("bloom_probe")(es => BloomProbe(es.head,
      es(1).eval().asInstanceOf[Array[Byte]]))
    unionGuard(spark)
    installed.put(spark, java.lang.Boolean.TRUE)
  }

  /** CORRECTNESS GUARD (Spark 4.1, measured in-repo): with
    * `spark.sql.unionOutputPartitioning=true` (the 4.1 default),
    * UnionExec reports the children's common hash partitioning when
    * all children are co-partitioned — e.g. two shard tables bucketed
    * identically — but STILL CONCATENATES child partitions (2×8
    * partitions claimed as hashpartitioning(key, 8)).
    * EnsureRequirements then elides the exchange under a downstream
    * aggregate on the bucket key, the two shards' halves of each group
    * never meet, and the aggregate silently emits DUPLICATE group keys
    * (observed: a vocabulary fold over two 31-word shard vocab tables
    * returning 62 groups; even an explicit repartition(key) gets
    * elided). Every sharded-serving fold here unions co-bucketed
    * tables, so the propagation is disabled session-wide by
    * [[ensureRegistered]] AND re-asserted at every sharded fold entry
    * point (the conf is session-mutable — a caller toggling it back
    * between calls must not be able to corrupt a fold silently).
    * Regression-pinned in BucketedJoinSpec. Revisit if a Spark release
    * makes union partition-ZIPPING actually happen.
    */
  def unionGuard(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.unionOutputPartitioning", "false")

  /** Column wrappers (session must be registered — queries call
    * `ensureRegistered` on entry).
    */
  def hamming(a: Column, b: Column): Column = call_function("hamming_dist", a, b)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def simhash64(tokenHashes: Column): Column = call_function("simhash64", tokenHashes)
  def minhashSigs(shingleHashes: Column, numHashes: Int, seed: Long): Column =
    call_function("minhash_sigs", shingleHashes, lit(numHashes), lit(seed))
  def wordShingles(tokens: Column, k: Int): Column =
    call_function("word_shingles", tokens, lit(k))
  def lshSigs(vec: Column, nBits: Int, nTables: Int, seed: Long): Column =
    call_function("lsh_sigs", vec, lit(nBits), lit(nTables), lit(seed))
  def quantizeVec(vec: Column): Column = call_function("quantize_vec", vec)
  def qcosUpper(a: Column, b: Column): Column = call_function("qcos_upper", a, b)
  def topkScore(nid: Column, cos: Column, k: Int): Column =
    call_function("topk_score", nid, cos, lit(k))
  def cappedIds(id: Column, cap: Int): Column =
    call_function("capped_ids", id, lit(cap))
  def idPairs(ids: Column): Column = call_function("id_pairs", ids)
  def ivfTopCents(vec: Column, cents: Column, n: Int): Column =
    call_function("ivf_top_cents", vec, cents, lit(n))
  def l2Argmin(vec: Column, cb: Column): Column =
    call_function("l2_argmin", vec, cb)
  def pqEncode(vec: Column, cb: Column, m: Int, ksub: Int): Column =
    call_function("pq_encode", vec, cb, lit(m), lit(ksub))
  def pqAdcTable(qvec: Column, cb: Column, m: Int, ksub: Int): Column =
    call_function("pq_adc_table", qvec, cb, lit(m), lit(ksub))
  def pqAdcDot(codes: Column, table: Column, ksub: Int): Column =
    call_function("pq_adc_dot", codes, table, lit(ksub))
  def deltaEnc(sortedInts: Column): Column = call_function("delta_enc", sortedInts)
  def deltaDec(gaps: Column): Column = call_function("delta_dec", gaps)
  def matVec(vec: Column, rot: Array[Double]): Column =
    call_function("mat_vec", vec, lit(rot))
  def cmsProbe(value: Column, sketch: org.apache.spark.util.sketch.CountMinSketch): Column = {
    val baos = new java.io.ByteArrayOutputStream()
    sketch.writeTo(baos)
    call_function("cms_probe", value, lit(baos.toByteArray))
  }
  def bloomProbe(value: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val baos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(baos)
    call_function("bloom_probe", value, lit(baos.toByteArray))
  }
}
