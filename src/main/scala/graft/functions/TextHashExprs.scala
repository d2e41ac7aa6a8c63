package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native fingerprint expressions for the text-dedup hot path.
  *
  * The HOF formulations (`aggregate`/`transform`/`zip_with`) are
  * CodegenFallback with a lambda invocation per ELEMENT — a 64-lane
  * simhash over ~500 tokens costs 32k interpreted calls per document.
  * These expressions do one virtual call per ROW and run a tight JVM loop
  * inside (still CodegenFallback at the row level, which is irrelevant at
  * this granularity). Measured on the sf0.1 bench: simhash 9.7s → ~1s,
  * minhash 9.2s → ~1.5s.
  */
object TextHashExprs {

  // Real doGenCode for the per-row native expressions: the shared
  // [[graft.functions.RefCodegen]]/[[graft.functions.RefCodegen2]]
  // traits (hoisted top-level in r15 so every expression family —
  // unicode, bitmap, ivf, geo — shares them).

  private def tokensOf(a: Any): ArrayData = a.asInstanceOf[ArrayData]

  private def checkStringArray(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$name needs array<string>, got ${t.simpleString}")
    }

  /** 64-bit SimHash of a token array: per-token xxhash64 (seed 42, matching
    * the built-in xxhash64()), ±1 per bit lane, sign → bit. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"
    override def checkInputDataTypes(): TypeCheckResult =
      checkStringArray(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val arr = tokensOf(input)
      val counters = new Array[Int](64)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val h = XxHash64Function.hash(
            arr.getUTF8String(i), StringType, 42L)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L; var b = 0
      while (b < 64) { if (counters(b) > 0) out |= (1L << b); b += 1 }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** k-lane MinHash signature of a shingle array: ONE xxhash64 per shingle
    * plus k seeded affine permutations `a_i*h + b_i` (odd multipliers from
    * a fixed-seed PRNG) — the standard one-pass construction; k× cheaper
    * than k independent string hashes with identical banding behavior. */
  case class MinHashSig(child: Expression, k: Int)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"
    override def checkInputDataTypes(): TypeCheckResult =
      checkStringArray(child, prettyName)

    @transient private lazy val (as, bs) = {
      val rnd = new java.util.Random(42L)
      (Array.fill(k)(rnd.nextLong() | 1L), Array.fill(k)(rnd.nextLong()))
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = tokensOf(input)
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val h = XxHash64Function.hash(
            arr.getUTF8String(i), StringType, 42L)
          var j = 0
          while (j < k) {
            val p = as(j) * h + bs(j)
            if (p < mins(j)) mins(j) = p
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** k-lane MinHash from an ALREADY-HASHED shingle array (the
    * [[ShingleHashes]] output) — the same seeded affine lanes as
    * [[MinHashSig]]/[[MinHashText]], so a signature derived from a
    * persisted shingle-hash table is bit-identical to one computed from
    * the text (law-tested): an index build that stores both tables pays
    * the corpus tokenize+shingle pass exactly ONCE. */
  case class MinHashFromHashes(child: Expression, k: Int)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_from_hashes"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<bigint>, got $other")
    }

    @transient private lazy val (as, bs) = {
      val rnd = new java.util.Random(42L) // same lanes as MinHashSig
      (Array.fill(k)(rnd.nextLong() | 1L), Array.fill(k)(rnd.nextLong()))
    }

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val mins = Array.fill(k)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val h = arr.getLong(i)
          var j = 0
          while (j < k) {
            val p = as(j) * h + bs(j)
            if (p < mins(j)) mins(j) = p
            j += 1
          }
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Shared one-pass tokenize→shingle→hash walk: whitespace-split the
    * (caller-lowered/trimmed) text, slide an n-token window, xxhash64 each
    * joined shingle (seed 42). Mirrors TextAnalysis.shingles semantics:
    * < n tokens yields one short shingle; empty shingles are skipped.
    * No intermediate arrays — the HOF pipeline (split → sequence →
    * transform(concat_ws(slice)) → filter) allocates four arrays per row
    * and an interpreted lambda call per shingle. */
  /** Java-regex `\s` class over raw UTF-8 bytes: the six ASCII whitespace
    * bytes. Multi-byte UTF-8 sequences all have the high bit set, so they
    * can never alias these — byte-level splitting is exactly equivalent to
    * `String.split("\\s+")` on trimmed input (no leading-empty token). */
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** FNV-1a 64 over a byte span — the PORTABLE per-shingle hash: plain
    * xor/multiply modular arithmetic any engine can replay (the DuckDB
    * oracle folds the same constants over hex-extracted bytes), unlike
    * xxhash64 whose avalanche steps SQL cannot express. Java long
    * multiplication wraps mod 2^64, which is exactly FNV's modulus. */
  private def fnv1a64(buf: Array[Byte], len: Int): Long = {
    var h = -3750763034362895579L // 0xcbf29ce484222325
    var p = 0
    while (p < len) { h ^= (buf(p) & 0xffL); h *= 1099511628211L; p += 1 }
    h
  }

  private def foreachShingleHash(s: UTF8String, n: Int,
      fnv: Boolean = false)(consume: Long => Unit): Unit = {
    // tokenize directly over the UTF-8 bytes — no String materialization,
    // no per-row regex, no token-array allocation beyond two int spans
    val bytes = s.getBytes
    val len = bytes.length
    var starts = new Array[Int](16); var ends = new Array[Int](16)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val st = i
        while (i < len && !isWs(bytes(i))) i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          ends = java.util.Arrays.copyOf(ends, nTok * 2)
        }
        starts(nTok) = st; ends(nTok) = i; nTok += 1
      }
    }
    if (nTok == 0) return
    val last = math.max(nTok - n, 0)
    var buf = new Array[Byte](64)
    var w = 0
    while (w <= last) {
      val end = math.min(w + n, nTok)
      var need = 0
      var j = w
      while (j < end) { need += ends(j) - starts(j) + 1; j += 1 }
      if (buf.length < need) buf = new Array[Byte](Integer.highestOneBit(need) * 2)
      var pos = 0
      j = w
      while (j < end) {
        if (j > w) { buf(pos) = ' '; pos += 1 }
        val l = ends(j) - starts(j)
        System.arraycopy(bytes, starts(j), buf, pos, l)
        pos += l
        j += 1
      }
      if (pos > 0) {
        if (fnv) consume(fnv1a64(buf, pos))
        else consume(XxHash64Function.hash(
          UTF8String.fromBytes(buf, 0, pos), StringType, 42L))
      }
      w += 1
    }
  }

  private def checkString(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$name needs string, got ${t.simpleString}")
    }

  /** Text → k-lane MinHash signature in one pass (no shingle array).
    * MinHash is duplicate-insensitive, so skipping array_distinct is
    * semantics-preserving. */
  case class MinHashText(child: Expression, n: Int, k: Int)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_text"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    @transient private lazy val (as, bs) = {
      val rnd = new java.util.Random(42L) // same lanes as MinHashSig
      (Array.fill(k)(rnd.nextLong() | 1L), Array.fill(k)(rnd.nextLong()))
    }

    override def nullSafeEval(input: Any): Any = {
      val mins = Array.fill(k)(Long.MaxValue)
      foreachShingleHash(input.asInstanceOf[UTF8String], n) { h =>
        var j = 0
        while (j < k) {
          val p = as(j) * h + bs(j)
          if (p < mins(j)) mins(j) = p
          j += 1
        }
      }
      new GenericArrayData(mins)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Text → 64-bit SimHash over word n-gram features (with multiplicity),
    * one pass. `portable` switches the per-shingle hash from xxhash64 to
    * FNV-1a, whose assignment an external SQL engine can replay exactly
    * (the q_dedup_simhash oracle does). */
  case class SimHashText(child: Expression, n: Int,
      portable: Boolean = false)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash_text"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val counters = new Array[Int](64)
      foreachShingleHash(input.asInstanceOf[UTF8String], n, portable) { h =>
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      var out = 0L; var b = 0
      while (b < 64) { if (counters(b) > 0) out |= (1L << b); b += 1 }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Text → DISTINCT shingle-hash set in one pass — the exact-Jaccard
    * verify primitive: intersection/union counts over the hash sets equal
    * the counts over distinct shingle strings (modulo 2⁻⁶⁴ collisions),
    * without materializing token or string arrays. First-seen order is
    * kept so the output is deterministic. */
  case class ShingleHashes(child: Expression, n: Int)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hashes"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      foreachShingleHash(input.asInstanceOf[UTF8String], n) { h =>
        seen.add(h); ()
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator(); var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Exact Jaccard of two long arrays in one pass — no intermediate
    * intersect/union arrays (array_intersect + array_union build and then
    * immediately discard two result arrays per pair; at corpus scale the
    * pair space makes that the dominant allocation). Inputs may contain
    * duplicates; counts are over distinct elements like
    * array_intersect/array_union. Empty union → 0.0. */
  case class JaccardLongSets(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaccard"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_jaccard needs (array<long>, array<long>), got ($l, $r)")
      }

    override def nullSafeEval(av: Any, bv: Any): Any = {
      val a = tokensOf(av); val b = tokensOf(bv)
      val setA = new java.util.HashSet[java.lang.Long](a.numElements() * 2)
      var i = 0
      while (i < a.numElements()) { setA.add(a.getLong(i)); i += 1 }
      val seenB = new java.util.HashSet[java.lang.Long](b.numElements() * 2)
      var inter = 0; var onlyB = 0
      i = 0
      while (i < b.numElements()) {
        val v = b.getLong(i)
        if (seenB.add(v)) {
          if (setA.contains(v)) inter += 1 else onlyB += 1
        }
        i += 1
      }
      val union = setA.size + onlyB
      if (union == 0) 0.0 else inter.toDouble / union
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Jaccard over SORTED-distinct long arrays: a single linear merge —
    * no per-pair HashSet allocation (the [[JaccardLongSets]] cost that
    * dominates blocked self-join verify stages: 10⁵-10⁶ pairs each
    * building two hash sets). Callers sort each side ONCE per row
    * (`sort_array`) before the join; inputs MUST be ascending and
    * duplicate-free or the count is wrong — [[graft.text.Dedup]] feeds
    * it `sort_array(shingleHashes(...))`, which is distinct by
    * construction. Identical values to the set formulation (LawsSpec). */
  case class JaccardSortedDistinct(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_jaccard_sorted"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_jaccard_sorted needs (array<long>, array<long>), got ($l, $r)")
      }

    override def nullSafeEval(av: Any, bv: Any): Any = {
      val a = tokensOf(av); val b = tokensOf(bv)
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Intersection SIZE of two pre-sorted distinct long arrays (the same
    * linear merge as [[JaccardSortedDistinct]], returning the raw count)
    * — the building block for ASYMMETRIC overlap measures like
    * containment |A∩B|/|A|, which Jaccard's symmetric union denominator
    * hides when the sets differ greatly in size. */
  case class IntersectCountSorted(left: Expression, right: Expression)
      extends BinaryExpression with RefCodegen2 {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_intersect_sorted"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"graft_intersect_sorted needs (array<long>, array<long>), got ($l, $r)")
      }

    override def nullSafeEval(av: Any, bv: Any): Any = {
      val a = tokensOf(av); val b = tokensOf(bv)
      val na = a.numElements(); val nb = b.numElements()
      var i = 0; var j = 0; var inter = 0L
      while (i < na && j < nb) {
        val x = a.getLong(i); val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      inter
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** One-pass repetition statistics over the (caller-lowered/trimmed)
    * text: tokenize the UTF-8 bytes, FNV-hash each token, and derive
    *
    *   (n_tokens, n_distinct_tokens, max_token_run,
    *    top_bigram_count, n_bigrams, top_trigram_count, n_trigrams)
    *
    * Top-n-gram counts come from sorting the rolled n-gram HASHES and
    * taking the longest equal-run — long sorts instead of the string
    * sort + interpreted-HOF fold this replaces (which evaluated the
    * tokenizer per reference and allocated every n-gram string; 40×
    * slower at corpus scale). Counts equal the string-level formulation
    * modulo 2⁻⁶⁴ hash collisions — the same trade every hashed-shingle
    * path here makes. Empty text mirrors `split` semantics (one empty
    * token: n=1, distinct=1, run=1, no n-grams).
    */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("max_run", LongType, nullable = false),
      StructField("top2", LongType, nullable = false),
      StructField("n2", LongType, nullable = false),
      StructField("top3", LongType, nullable = false),
      StructField("n3", LongType, nullable = false)))
    override def prettyName: String = "graft_repetition_stats"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    private def maxRunSorted(a: Array[Long]): Long = {
      if (a.length == 0) return 0L
      java.util.Arrays.sort(a)
      var best = 1L; var run = 1L; var i = 1
      while (i < a.length) {
        if (a(i) == a(i - 1)) { run += 1; if (run > best) best = run }
        else run = 1
        i += 1
      }
      best
    }

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val len = bytes.length
      // tokenize + hash in one walk (same byte-level splitter as the
      // shingle path)
      var hashes = new Array[Long](16)
      var nTok = 0
      var i = 0
      while (i < len) {
        while (i < len && isWs(bytes(i))) i += 1
        if (i < len) {
          val st = i
          while (i < len && !isWs(bytes(i))) i += 1
          if (nTok == hashes.length)
            hashes = java.util.Arrays.copyOf(hashes, nTok * 2)
          var h = -3750763034362895579L // FNV offset basis
          var p = st
          while (p < i) { h ^= (bytes(p) & 0xffL); h *= 1099511628211L; p += 1 }
          hashes(nTok) = h; nTok += 1
        }
      }
      if (nTok == 0) { // split("") == [""]: one empty token
        return org.apache.spark.sql.catalyst.InternalRow(
          1, 1, 1L, 0L, 0L, 0L, 0L)
      }
      val distinct = new java.util.HashSet[java.lang.Long](nTok * 2)
      var maxRun = 1L; var run = 1L
      i = 0
      while (i < nTok) {
        distinct.add(hashes(i))
        if (i > 0) {
          if (hashes(i) == hashes(i - 1)) { run += 1; if (run > maxRun) maxRun = run }
          else run = 1
        }
        i += 1
      }
      // n-gram hash: FNV-fold the token hashes so (a,b) != (b,a)
      def gramHashes(n: Int): Array[Long] = {
        if (nTok < n) return Array.emptyLongArray
        val out = new Array[Long](nTok - n + 1)
        var w = 0
        while (w < out.length) {
          var h = -3750763034362895579L
          var j = 0
          while (j < n) {
            val t = hashes(w + j)
            var b = 0
            while (b < 8) { h ^= (t >>> (b * 8)) & 0xffL; h *= 1099511628211L; b += 1 }
            j += 1
          }
          out(w) = h; w += 1
        }
        out
      }
      val g2 = gramHashes(2); val g3 = gramHashes(3)
      val n2 = g2.length.toLong; val n3 = g3.length.toLong
      org.apache.spark.sql.catalyst.InternalRow(
        nTok, distinct.size, maxRun,
        maxRunSorted(g2), n2, maxRunSorted(g3), n3)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** All n-token windows of a whitespace-tokenized string, space-joined —
    * the exact-substring-dedup unit of Lee et al. 2022. One pass over the
    * UTF-8 bytes; only FULL n-token windows are emitted (a doc shorter
    * than n tokens yields an empty array), so
    * size(result) == max(nTokens - n + 1, 0). Semantically identical to
    * the HOF log-doubling build (zip_with^log n + filter) it replaced,
    * which paid an interpreted lambda call per element per pass — measured
    * 3.8 s → 0.5 s on the sf0.1 spans query. */
  case class TokenWindows(child: Expression, n: Int)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_token_windows"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      val bytes = s.getBytes
      val len = bytes.length
      var starts = new Array[Int](16); var ends = new Array[Int](16)
      var nTok = 0
      var i = 0
      while (i < len) {
        while (i < len && isWs(bytes(i))) i += 1
        if (i < len) {
          val st = i
          while (i < len && !isWs(bytes(i))) i += 1
          if (nTok == starts.length) {
            starts = java.util.Arrays.copyOf(starts, nTok * 2)
            ends = java.util.Arrays.copyOf(ends, nTok * 2)
          }
          starts(nTok) = st; ends(nTok) = i; nTok += 1
        }
      }
      if (nTok < n) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](nTok - n + 1)
      var w = 0
      while (w < out.length) {
        var need = n - 1
        var j = w
        while (j < w + n) { need += ends(j) - starts(j); j += 1 }
        val buf = new Array[Byte](need)
        var pos = 0
        j = w
        while (j < w + n) {
          if (j > w) { buf(pos) = ' '; pos += 1 }
          val l = ends(j) - starts(j)
          System.arraycopy(bytes, starts(j), buf, pos, l)
          pos += l
          j += 1
        }
        out(w) = UTF8String.fromBytes(buf)
        w += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Per-document term-frequency map over an ALREADY-TOKENIZED array
    * (caller owns tokenization, so index and oracle tokenize
    * identically): one hash-map pass per row, first-occurrence key
    * order. This turns the inverted-index build's (doc, term)
    * aggregation into a STATELESS projection — at corpus scale the
    * groupBy(doc, dl, term) formulation shuffles every posting row
    * (≈ the tokenized corpus) before any reduction, while this explodes
    * already-reduced (term, tf) pairs and the only remaining exchange
    * is the bucket-clustered write. */
  case class TermCounts(child: Expression)
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType =
      MapType(StringType, LongType, valueContainsNull = false)
    override def prettyName: String = "graft_term_counts"
    override def checkInputDataTypes(): TypeCheckResult =
      checkStringArray(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val arr = tokensOf(input)
      val n = arr.numElements()
      val counts = new java.util.LinkedHashMap[UTF8String, Long](
        Math.max(16, n * 2))
      var i = 0
      while (i < n) {
        // null elements are skipped: a map key cannot be null, and the
        // split()-based tokenizers never produce one
        if (!arr.isNullAt(i)) {
          val t = arr.getUTF8String(i)
          // BoxesRunTime unboxes an absent (null) entry to 0L
          counts.put(t, counts.get(t) + 1L)
        }
        i += 1
      }
      val keys = new Array[Any](counts.size)
      val vals = new Array[Any](counts.size)
      val it = counts.entrySet().iterator()
      var j = 0
      while (it.hasNext) {
        val e = it.next()
        keys(j) = e.getKey; vals(j) = e.getValue; j += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new GenericArrayData(keys), new GenericArrayData(vals))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** `split(s, "\\s+", -1)` as ONE native byte scan (r14): Spark's
    * StringSplit re-enters `Pattern.compile` and round-trips
    * UTF8String↔String on EVERY row, and it sits on the hot path of
    * every tokenizing operator (index build, BM25, BPE, classifier
    * features, LM grams, quality, sketches). Java's `\s` is the six
    * ASCII separators `[ \t\n\x0B\f\r]` — single bytes in UTF-8, never
    * a continuation byte — so the regex split is exactly a separator-run
    * scan over the raw bytes. Replicates `Pattern.split(input, -1)`
    * bit-for-bit, including the edge tokens the regex produces: empty
    * input → [""], a leading separator run → leading "", a trailing
    * run → trailing "" (limit −1 keeps it). Law-tested against
    * StringSplit on arbitrary strings (TextSpec). */
  case class WsSplit(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_ws_split"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any =
      TextHashExprs.wsSplitEval(input.asInstanceOf[UTF8String])

    // a REAL doGenCode (not CodegenFallback): the tokenizer feeds
    // Generate/aggregate pipelines whose whole-stage codegen would
    // otherwise be abandoned around a fallback expression — measured
    // +0.5 s per BPE row when this was a fallback (r14)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.TextHashExprs.wsSplitEval($c)")

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Count of a long-array column's elements present in a FIXED sorted
    * set (r14): `size(array_intersect(arr, lit(bigArray)))` rebuilds a
    * hash set of the literal side on EVERY row (50k inserts/row for the
    * decontamination gate); this expression carries the sorted set once
    * and binary-searches per element — identical count when `arr` has
    * distinct elements (shingleHashes emits distinct), which is exactly
    * the stream decontamination gate's n_hits. */
  case class CountInSortedSet(child: Expression, sorted: Array[Long])
      extends UnaryExpression with RefCodegen {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_count_in_sorted_set"
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs array<bigint>, got $other")
      }
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var hits = 0L
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i) &&
            java.util.Arrays.binarySearch(sorted, arr.getLong(i)) >= 0)
          hits += 1L
        i += 1
      }
      hits
    }
    // Array fields compare by REFERENCE under the case-class equals, so
    // two structurally identical instances would never be semanticEqual —
    // canonicalization and common-subexpression elimination would miss
    // and each occurrence would carry its own 50k-element copy (r14
    // advice). Compare the set by content.
    override def equals(o: Any): Boolean = o match {
      case c: CountInSortedSet =>
        c.child == child && java.util.Arrays.equals(c.sorted, sorted)
      case _ => false
    }
    override def hashCode(): Int =
      31 * child.hashCode() + java.util.Arrays.hashCode(sorted)
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Plan-time extraction of the sorted-set literal: the registry
    * builder runs once per plan, so the array materializes out of the
    * Literal exactly once (never per row). */
  /** Plan-time extraction of a string-array literal (needle sets). */
  private[functions] def stringSeqOf(e: Expression): Seq[UTF8String] =
    e match {
      case lit: org.apache.spark.sql.catalyst.expressions.Literal
          if lit.value != null =>
        val a = lit.value.asInstanceOf[ArrayData]
        (0 until a.numElements()).map(a.getUTF8String)
      case other => throw new IllegalArgumentException(
        s"graft_count_any_of needs a non-null string-array literal, got $other")
    }

  private[functions] def sortedSetOf(e: Expression): Array[Long] = e match {
    case lit: org.apache.spark.sql.catalyst.expressions.Literal
        if lit.value != null =>
      lit.value.asInstanceOf[ArrayData].toLongArray()
    case other => throw new IllegalArgumentException(
      s"graft_count_in_sorted_set needs a non-null array literal, got $other")
  }

  /** [[CountInSortedSet]] as a Column (set must be sorted ascending). */
  def countInSortedSet(arr: Column, sorted: Array[Long]): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_count_in_sorted_set", arr,
      org.apache.spark.sql.functions.typedLit(sorted.toSeq))
  }

  /** Summed non-overlapping occurrence count of a FIXED needle set in
    * one expression (r14): the `length(s) - length(replace(s, p, ""))`
    * formulation allocates a rewritten copy of the text per needle per
    * row (11 needles for the quality score, ~30 for langid). Each
    * needle is counted with the same left-to-right NON-OVERLAPPING rule
    * `replace` uses (advance past a match), so the sum is bit-identical
    * to the sum of per-needle replace counts; oracles keep replaying
    * the replace formulation. */
  case class CountAnyOf(child: Expression, needles: Seq[UTF8String])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_count_any_of"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)
    @transient private lazy val needleArr = needles.toArray
    override def nullSafeEval(input: Any): Any =
      TextHashExprs.countAnyOfEval(
        input.asInstanceOf[UTF8String], needleArr)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("graftNeedles", needleArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.TextHashExprs.countAnyOfEval($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Static worker for [[CountAnyOf]]. */
  def countAnyOfEval(s: UTF8String,
      needles: Array[UTF8String]): Long = {
    var total = 0L
    var j = 0
    while (j < needles.length) {
      val nd = needles(j)
      val step = nd.numChars()
      if (step > 0) {
        var from = 0
        var at = s.indexOf(nd, from)
        while (at >= 0) {
          total += 1L
          from = at + step
          at = s.indexOf(nd, from)
        }
      }
      j += 1
    }
    total
  }

  /** [[CountAnyOf]] as a Column over a fixed needle list. */
  def countAnyOf(text: Column, needles: Seq[String]): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_count_any_of", text,
      org.apache.spark.sql.functions.typedLit(needles))
  }

  @inline private def isWsByte(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Static worker for [[WsSplit]] — called from both interpreted eval
    * and generated code. Replicates `Pattern.split(s, -1)` for `\s+`:
    * pieces between separator runs, leading/trailing runs produce empty
    * pieces, empty input yields [""] . */
  def wsSplitEval(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0)
      return new GenericArrayData(Array[Any](UTF8String.fromString("")))
    var pieces = 1
    var i = 0
    while (i < n) {
      if (isWsByte(bytes(i))) {
        pieces += 1
        i += 1
        while (i < n && isWsByte(bytes(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](pieces)
    var w = 0
    var start = 0
    i = 0
    while (i < n) {
      if (isWsByte(bytes(i))) {
        out(w) = UTF8String.fromBytes(bytes, start, i - start)
        w += 1
        i += 1
        while (i < n && isWsByte(bytes(i))) i += 1
        start = i
      } else i += 1
    }
    out(w) = UTF8String.fromBytes(bytes, start, n - start)
    new GenericArrayData(out)
  }

  /** Hashing-trick feature bucket: unsigned FNV-1a 64 of the token's
    * UTF-8 bytes, mod `dim` — the PORTABLE feature hash (the DuckDB
    * oracle replays the same byte fold as a HUGEINT reduce, and unsigned
    * mod is plain `%` there). Returns 0..dim-1 as long. */
  case class FnvBucket(child: Expression, dim: Int)
      extends UnaryExpression with RefCodegen {
    require(dim > 0, s"dim must be positive, got $dim")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_fnv_bucket"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      java.lang.Long.remainderUnsigned(fnv1a64(bytes, bytes.length), dim)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** murmur3's 64-bit finalizer: full-avalanche mix, engine-replayable
    * (an external engine without 64-bit wrapping multiply splits each
    * product into 32-bit halves mod 2^64 — see the q_hll_distinct
    * oracle). Raw FNV-1a is NOT distribution-quality for sketches: its
    * final multiply carries a last-byte change only up to bit ~47 (the
    * prime's top bit is 2^40), and even the low bits are measurably
    * sub-Poisson on regular key sets (sequential "tokN" tokens give
    * register occupancy 1960 vs the 1870 a uniform hash expects, and
    * +13..19% cardinality estimates). fmix64 restores uniformity at the
    * cost of two multiplies. */
  private def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** HyperLogLog register parts of a token: struct(reg, rank) where
    * `reg` = low `p` bits of fmix64(FNV-1a 64) and `rank` =
    * trailing-zero count of the remaining 64-p bits plus one, CAPPED AT
    * 51 (Flajolet's low-bits formulation over a finalized hash — see
    * [[fmix64]] for why finalization is required).
    *
    * The 51 cap is part of the sketch definition, not an optimization:
    * it lets the register merge sum 2^(51-rank) terms as exact LONGS
    * (every term is an integer in [1, 2^50]), which makes the
    * harmonic-mean denominator independent of partial-aggregation order
    * and identical across engines. A rank > 51 occurs with probability
    * 2^-51 per value and its truncation biases the estimate far below
    * the sketch's own 1.04/sqrt(m) standard error. FNV keeps the whole
    * path replayable by an external engine (same HUGEINT byte fold as
    * [[FnvBucket]]; ctz = bit_count((w & -w) - 1)). */
  case class HllParts(child: Expression, p: Int)
      extends UnaryExpression with RefCodegen {
    require(p >= 4 && p <= 16, s"hll precision p must be in [4,16], got $p")
    override def dataType: DataType = StructType(Seq(
      StructField("reg", LongType, nullable = false),
      StructField("rank", IntegerType, nullable = false)))
    override def prettyName: String = "graft_hll_parts"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val h = fmix64(fnv1a64(bytes, bytes.length))
      val reg = h & ((1L << p) - 1)
      val w = h >>> p
      // w == 0 -> ntz = 64 -> capped to 51, no special case needed
      val rank = math.min(java.lang.Long.numberOfTrailingZeros(w) + 1, 51)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](reg, rank))
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Count-min-sketch bucket row of a token: array of `d` bucket indices
    * in [0, w), one per sketch depth. Depth j's bucket is
    * fmix64(fnv1a64(token) XOR j*GOLDEN) mod w — the golden-ratio
    * multiples give d independent-enough finalizer streams from ONE byte
    * fold, and every piece (fold, xor, fmix64, unsigned mod) is
    * replayable in an external engine (see the q_cms_freq oracle). */
  case class CmsBuckets(child: Expression, d: Int, w: Int)
      extends UnaryExpression with RefCodegen {
    require(d >= 1 && d <= 8, s"cms depth d must be in [1,8], got $d")
    require(w >= 2, s"cms width w must be >= 2, got $w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_cms_buckets"
    override def checkInputDataTypes(): TypeCheckResult =
      checkString(child, prettyName)

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[UTF8String].getBytes
      val h = fnv1a64(bytes, bytes.length)
      val out = new Array[Long](d)
      var j = 0
      while (j < d) {
        out(j) = java.lang.Long.remainderUnsigned(
          fmix64(h ^ (j * 0x9e3779b97f4a7c15L)), w)
        j += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }

  /** (identifier, info, builder) triples — the
    * `SparkSessionExtensions.injectFunction` payloads. Shared by the
    * lazy per-session [[graft.GraftExtensions.registerActive]] and by [[graft.GraftExtensions]]
    * (`spark.sql.extensions=graft.GraftExtensions` registers every
    * graft_* function at session build, the cluster-deployment path). */
  val injectables: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = {
    def entry(name: String, cls: Class[_])(
        b: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), b)
    Seq(
      entry("graft_simhash64", classOf[SimHash64])(cs => SimHash64(cs.head)),
      entry("graft_minhash_sig", classOf[MinHashSig])(cs =>
        MinHashSig(cs.head, intLit(cs(1), "graft_minhash_sig k"))),
      entry("graft_minhash_text", classOf[MinHashText])(cs =>
        MinHashText(cs.head, intLit(cs(1), "graft_minhash_text n"),
          intLit(cs(2), "graft_minhash_text k"))),
      entry("graft_minhash_from_hashes", classOf[MinHashFromHashes])(cs =>
        MinHashFromHashes(cs.head,
          intLit(cs(1), "graft_minhash_from_hashes k"))),
      entry("graft_jaccard", classOf[JaccardLongSets])(cs =>
        JaccardLongSets(cs(0), cs(1))),
      entry("graft_jaccard_sorted", classOf[JaccardSortedDistinct])(cs =>
        JaccardSortedDistinct(cs(0), cs(1))),
      entry("graft_intersect_sorted", classOf[IntersectCountSorted])(cs =>
        IntersectCountSorted(cs(0), cs(1))),
      entry("graft_shingle_hashes", classOf[ShingleHashes])(cs =>
        ShingleHashes(cs.head, intLit(cs(1), "graft_shingle_hashes n"))),
      entry("graft_simhash_text", classOf[SimHashText])(cs =>
        SimHashText(cs.head, intLit(cs(1), "graft_simhash_text n"),
          portable = cs.length > 2 &&
            intLit(cs(2), "graft_simhash_text portable") != 0)),
      entry("graft_repetition_stats", classOf[RepetitionStats])(cs =>
        RepetitionStats(cs.head)),
      entry("graft_token_windows", classOf[TokenWindows])(cs =>
        TokenWindows(cs.head, intLit(cs(1), "graft_token_windows n"))),
      entry("graft_fnv_bucket", classOf[FnvBucket])(cs =>
        FnvBucket(cs.head, intLit(cs(1), "graft_fnv_bucket dim"))),
      entry("graft_term_counts", classOf[TermCounts])(cs =>
        TermCounts(cs.head)),
      entry("graft_ws_split", classOf[WsSplit])(cs => WsSplit(cs.head)),
      entry("graft_count_in_sorted_set", classOf[CountInSortedSet])(cs =>
        CountInSortedSet(cs.head, sortedSetOf(cs(1)))),
      entry("graft_count_any_of", classOf[CountAnyOf])(cs =>
        CountAnyOf(cs.head, stringSeqOf(cs(1)))),
      entry("graft_hll_parts", classOf[HllParts])(cs =>
        HllParts(cs.head, intLit(cs(1), "graft_hll_parts p"))),
      entry("graft_cms_buckets", classOf[CmsBuckets])(cs =>
        CmsBuckets(cs.head, intLit(cs(1), "graft_cms_buckets d"),
          intLit(cs(2), "graft_cms_buckets w"))))
  }

  /** One-pass text→MinHash signature (caller lowers/trims the text). */
  def minhashText(text: Column, n: Int, k: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_minhash_text", text,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(k))
  }

  /** MinHash signature from a persisted shingle-hash array. */
  def minhashFromHashes(hashes: Column, k: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_minhash_from_hashes", hashes,
      org.apache.spark.sql.functions.lit(k))
  }

  /** One-pass exact Jaccard over two array<long> columns. */
  def jaccardLong(a: Column, b: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_jaccard", a, b)
  }

  /** [[jaccardLong]] for pre-sorted distinct arrays (linear merge). */
  def jaccardLongSorted(a: Column, b: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_jaccard_sorted", a, b)
  }

  /** Intersection size of pre-sorted distinct long arrays. */
  def intersectCountSorted(a: Column, b: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_intersect_sorted", a, b)
  }

  /** One-pass text→distinct-shingle-hash array (caller lowers/trims). */
  def shingleHashes(text: Column, n: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_shingle_hashes", text,
      org.apache.spark.sql.functions.lit(n))
  }

  /** One-pass text→SimHash over word n-grams (caller lowers/trims). */
  def simhashText(text: Column, n: Int, portable: Boolean = false): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_simhash_text", text,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(if (portable) 1 else 0))
  }

  /** One-pass repetition statistics struct (caller lowers/trims). */
  def repetitionStats(text: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_repetition_stats", text)
  }

  /** One-pass n-token window array (caller lowers/trims). */
  def tokenWindows(text: Column, n: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_token_windows", text,
      org.apache.spark.sql.functions.lit(n))
  }

  /** [[WsSplit]] over an arbitrary column — `split(text, "\\s+", -1)` as
    * one native byte scan, NO lower/trim wrapper (the r14 win stopped at
    * the lower(trim(…)) pattern; nine call sites kept the regex because
    * only the wrapper differed — r15 closes them with this form). */
  def wsSplit(text: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_ws_split", text)
  }

  /** The repo-wide whitespace tokenizer `split(lower(trim(text)), "\\s+")`
    * with the split as one native byte scan ([[WsSplit]]) — identical
    * output, no per-row Pattern.compile. Use for every tokenizing hot
    * path; oracles keep replaying the regex formulation. */
  def wsTokens(text: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_ws_split",
      org.apache.spark.sql.functions.lower(
        org.apache.spark.sql.functions.trim(text)))
  }

  /** Per-row term-frequency map over a token array (one hash-map pass;
    * the shuffle-free inverted-index build path). */
  def termCounts(tokens: Column): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_term_counts", tokens)
  }

  /** Portable hashing-trick bucket (unsigned FNV-1a mod dim). */
  def fnvBucket(token: Column, dim: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_fnv_bucket", token,
      org.apache.spark.sql.functions.lit(dim))
  }

  /** HLL register parts struct(reg, rank) of a string value (see
    * [[HllParts]] for the rank-cap contract). */
  def hllParts(value: Column, p: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_hll_parts", value,
      org.apache.spark.sql.functions.lit(p))
  }

  /** Count-min bucket indices (length-d array) of a string value. */
  def cmsBuckets(value: Column, d: Int, w: Int): Column = {
    graft.GraftExtensions.registerActive()
    call_function("graft_cms_buckets", value,
      org.apache.spark.sql.functions.lit(d),
      org.apache.spark.sql.functions.lit(w))
  }
}
