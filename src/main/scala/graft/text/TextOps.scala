package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis and deduplication operators for LLM-scale data
  * pipelines (SURVEY §7.1 step 8): tokenization, shingling, portable
  * hashing, MinHash signatures, SimHash, fingerprinting, quality
  * scoring, language-ID.
  *
  * Everything here is Column-level (codegen'd, embarrassingly parallel —
  * no shuffle until an explicit join/groupBy), so it scales linearly
  * with the corpus: per-document signatures are computed map-side; only
  * candidate-pair generation (LSH band join / shared-shingle join)
  * shuffles, and it shuffles signatures, not documents.
  */
object TextOps {

  /** Size-capped distinct posting list: collects up to cap+1 doc ids per
    * key, so a hot key (a stop-phrase shingle in millions of docs) costs
    * O(cap) memory instead of an unbounded collect_list — the consumer
    * drops keys that overflowed (size > cap). Sorted + deduped on finish
    * for deterministic pair emission. */
  class CappedPostingList(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[Long, Array[Long], Seq[Long]] {
    private val keep = cap + 1 // one extra marks overflow
    def zero: Array[Long] = Array.empty[Long]
    // distinct-aware append (O(cap) scan, cap is small): duplicates must
    // not consume cap slots, or overflow detection would depend on how
    // Spark groups partials (proven by AggregatorLawsSpec)
    def reduce(b: Array[Long], v: Long): Array[Long] =
      if (b.length >= keep || b.contains(v)) b else b :+ v
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val m = (a ++ b).distinct
      if (m.length > keep) m.take(keep) else m
    }
    def finish(b: Array[Long]): Seq[Long] = b.sorted.toSeq
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Whitespace tokenization: split on single spaces, drop empties. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Ingest clean stage: Unicode NFC (the codegen'd
    * [[graft.functions.NfcNormalize]] kernel) → strip control chars →
    * collapse whitespace runs → trim. A pure stateless Column
    * transform shared by the batch gate (t_unicode_clean) and the
    * streaming ingest twin (StreamingCleanSpec), so batch and stream
    * semantics cannot drift — the qualityFilterStage pattern. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.NfcNormalize.nfc(c), "[\\x00-\\x1F\\x7F]", ""),
      "[ \\t\\n\\r]+", " "))

  /** Fixed n-token window texts (the paragraph-style chunking unit for
    * cross-doc boilerplate dedup) — ceil(len/n) windows, floored at one
    * so an empty token array yields one empty chunk rather than a
    * descending sequence; the SQL oracle twin mirrors the floor with
    * range(0, greatest(..., 1)). Shared by the batch t_chunk_dedup
    * query and the streaming dedup stage (the expression is pure
    * Column-level, so batch/stream semantics cannot drift). A null
    * token array is treated as empty (one empty chunk) — without the
    * coalesce, Spark's concat_ws over a null slice yields "" while the
    * SQL twin propagates NULL through md5 and drops the row, so the
    * twins would diverge on nullable text. */
  def chunkTexts(toks: Column, n: Int): Column = {
    val ts = coalesce(toks, array())
    val nChunks = greatest(ceil(size(ts).cast("double") / n).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(ts, i * n + 1, lit(n))))
  }

  /** Portable h60 hashes of every STRIDE-1 sliding w-token window —
    * the unit of exact-substring dedup (Lee et al. 2022: duplicated
    * long spans, not just duplicated blocks; contrast [[chunkTexts]]'
    * stride-w blocks, which miss spans straddling a block edge). JVM
    * kernel for the usual reason (one md5 per window beats w zipped
    * HOF slices, all interpreted); docs shorter than w yield an empty
    * list. */
  def windowHashes(toks: Column, w: Int): Column = {
    val f = udf((ts: Seq[String]) =>
      if (ts == null || ts.length < w) Seq.empty[Long]
      else (0 to ts.length - w).map(i => hash60(ts.slice(i, i + w).mkString(" "))))
    f(toks)
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    * algorithm): hash every k-token gram, then keep the MINIMUM hash of
    * each t-window of consecutive gram hashes. The selected SET is
    * position-independent (any min-selection rule yields the same value
    * set), guaranteed to share a fingerprint with any copy of a
    * sufficiently long substring — the robust document-fingerprint
    * contract plain [[windowHashes]] sampling lacks. JVM kernel for the
    * [[windowHashes]] reason; docs shorter than k+t-1 tokens yield no
    * fingerprints. Returned sorted-distinct. */
  private[graft] def winnowKernel(ts: Seq[String], k: Int, t: Int): Seq[Long] =
    if (ts == null || ts.length < k + t - 1) Seq.empty[Long]
    else {
      val hs = (0 to ts.length - k).map(i => hash60(ts.slice(i, i + k).mkString(" ")))
      (0 to hs.length - t).map(i => hs.slice(i, i + t).min).distinct.sorted
    }

  def winnow(toks: Column, k: Int, t: Int): Column = {
    val f = udf((ts: Seq[String]) => winnowKernel(ts, k, t))
    f(toks)
  }

  /** Row-wise repetition kernel: ONE O(len) pass per document computing
    * the Gopher-style quality pair [top-bigram fraction,
    * duplicate-trigram fraction] — the stateless STREAMABLE twin of the
    * batch explode+groupBy rollup (TextQueries.repetition): no shuffle,
    * no state, so it drops into a readStream map for ingest-time
    * filtering, and the batch gate t_repetition_rowwise hash-matches it
    * against the SAME oracle as the batch plan. Docs with fewer than n
    * tokens score 0.0 (the outer-join default of the batch form). JVM
    * kernel rather than HOFs: per-row hash-map counting (HOF lambdas
    * run interpreted; same measured trade as shingles3). */
  def repetitionScores(toks: Column): Column = {
    val f = udf((ts: Seq[String]) => {
      def stats(n: Int): (Double, Double) = {
        val total = ts.length - (n - 1)
        if (total <= 0) (0.0, 0.0)
        else {
          val m = scala.collection.mutable.HashMap.empty[String, Int]
          var i = 0
          while (i <= ts.length - n) {
            val g = ts.slice(i, i + n).mkString(" ")
            m.update(g, m.getOrElse(g, 0) + 1)
            i += 1
          }
          (m.valuesIterator.max.toDouble / total,
            m.valuesIterator.filter(_ > 1).sum.toDouble / total)
        }
      }
      Seq(stats(2)._1, stats(3)._2)
    })
    f(coalesce(toks, array()))
  }

  /** Portable 60-bit hash: first 15 hex chars of md5, parsed base-16.
    * Chosen because both Spark (`conv`) and any ANSI-ish oracle engine
    * can reproduce it exactly; 60 bits keeps it positive in an int64. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SQL twin of [[h60]] (DuckDB syntax). */
  def h60Sql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  // -------------------------------------------------------------------
  // Bit-portable natural log of a positive BIGINT
  // -------------------------------------------------------------------
  // Engine-native ln/log are libm-dependent: round 6 proved two DuckDB
  // builds disagree in the last ulp, which flips a later
  // double→DECIMAL(18,6) quantization and fails the driver's bitwise
  // hash even though the builder's local oracle passed. These helpers
  // rebuild ln(v) for integer v ≥ 1 from operations whose IEEE-754
  // results are defined exactly (no libm): v = m·2^e with e =
  // bit-length−1 (integer ops) and m ∈ [1,2) (division by a power of
  // two is exact), then ln m = 2·atanh(z), z = (m−1)/(m+1) ∈ [0,1/3),
  // via a FIXED 19-term Horner polynomial — every +,−,*,/ is one
  // correctly-rounded IEEE op, so any two engines evaluating the same
  // op tree produce bit-identical doubles. Truncation error ≤
  // (1/3)^39/39 ≈ 2e-20, far below double ulp. The ln 2 multiplier is
  // the literal nearest-double, parsed identically by both engines.

  /** 1, 1/3, 1/5, … 1/37 as shortest round-trip double literals. */
  private val AtanhCoeffs: Seq[String] =
    (0 to 18).map(k => (1.0 / (2 * k + 1)).toString)

  /** Horner form of Σ z²ᵏ/(2k+1): `c0 + z2*(c1 + z2*(…))`. `z2` must be
    * a cheap SQL ref (a column), it is inlined 18 times. */
  def atanhPolySql(z2: String): String =
    AtanhCoeffs.reverse.reduceLeft((acc, c) => s"$c + $z2 * ($acc)")

  /** `(msb, m)` SQL for BIGINT expression `v` ≥ 1: msb = bit-length−1,
    * m = v / 2^msb ∈ [1,2) exactly. Only the shift spelling differs by
    * dialect; the arithmetic op tree is identical. */
  def lnIntPartsSql(v: String, spark: Boolean): (String, String) = {
    val msb = s"(length(bin($v)) - 1)"
    val p2 =
      if (spark) s"CAST(shiftleft(CAST(1 AS BIGINT), $msb) AS DOUBLE)"
      else s"CAST((CAST(1 AS BIGINT) << ($msb)) AS DOUBLE)"
    (msb, s"(CAST($v AS DOUBLE) / $p2)")
  }

  /** ln(v) from staged columns `e` (msb, integer-typed) and `z`
    * ((m−1)/(m+1), double): `e·ln2 + 2·z·poly(z²)` with explicit
    * parenthesization so both engines build the same op tree. */
  def lnIntFromStagedSql(e: String, z: String): String =
    s"(CAST($e AS DOUBLE) * 0.6931471805599453 + " +
      s"2.0 * $z * (${atanhPolySql(s"($z * $z)")}))"

  /** Single-expression form of the portable ln for a positive BIGINT
    * expression `v` — no staging CTEs, at the price of ~10 KB of SQL
    * text and ~40 recomputed IEEE ops per row (the subterms repeat
    * textually). Use on SMALL relations only (vocab-bounded tables:
    * per-term idf, per-bigram PMI, per-(token,source) NB weights) and
    * keep `v` a short column reference. */
  def lnIntInlineSql(v: String, spark: Boolean): String = {
    val (msb, m) = lnIntPartsSql(v, spark)
    val z = s"(($m - 1.0) / ($m + 1.0))"
    s"(CAST($msb AS DOUBLE) * 0.6931471805599453 + " +
      s"2.0 * $z * (${atanhPolySql(s"($z * $z)")}))"
  }

  /** Word n-gram shingles (n=3): the standard near-dup unit. JVM kernel
    * rather than transform/concat_ws — Spark runs HOF lambdas
    * interpreted, which dominates the runtime at corpus scale. */
  def shingles3(toks: Column): Column = {
    val f = udf((ts: Seq[String]) =>
      if (ts.length < 3) Seq.empty[String]
      else (0 to ts.length - 3).map(i => s"${ts(i)} ${ts(i + 1)} ${ts(i + 2)}"))
    f(toks)
  }

  /** Modulus/multiplier constants of the universal seed-hash family:
    * h_j(s) = ((2j+1) * (h60(s) & MASK30) + j * MIX) % P30. One md5 per
    * shingle; the per-seed variants are integer arithmetic — k times
    * cheaper than k independent md5 passes, and exactly reproducible in
    * any engine with 64-bit integer ops. */
  val MinhashMask30 = 0x3FFFFFFFL
  val MinhashMix = 2654435761L
  val MinhashP30 = 1073741789L

  /** MinHash signature of k seeded hash functions over the shingle set.
    * Physical choice: a JVM kernel (UDF), not higher-order functions —
    * Spark evaluates HOF lambdas interpreted (no codegen), which makes
    * an md5-per-shingle pipeline ~100x slower than compiled code; the
    * kernel is still map-side/shuffle-free and embarrassingly parallel.
    * Math is exactly the documented family, so SQL oracles reproduce
    * it with list functions. */
  def minhashSignature(shingles: Column, k: Int): Column = {
    val f = udf((sh: Seq[String]) => {
      val mins = Array.fill(k)(Long.MaxValue)
      sh.foreach { s =>
        val h = hash60(s) & MinhashMask30
        var j = 0
        while (j < k) {
          val v = ((2L * j + 1) * h + j * MinhashMix) % MinhashP30
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      mins.toSeq
    })
    f(shingles)
  }

  /** SQL twin of [[minhashSignature]] (DuckDB): expects a column `hs` =
    * list of (h60(shingle) & MASK30). */
  def minhashSigSqlExpr(k: Int): String =
    s"""list_transform(range(0, $k), j -> list_min(list_transform(hs,
       |    h -> ((2*j+1) * h + j * $MinhashMix) % $MinhashP30)))""".stripMargin

  /** LSH band key: rows-per-band consecutive signature entries joined to
    * one string; equal key in a band => candidate pair. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** SimHash-64 over the token multiset: per-bit majority vote of the
    * 60-bit token hashes, bit set iff vote > 0. Column-level relational
    * form (explodes tokens x bits) lives in the oracle; this is the
    * single-pass per-document form. */
  val simhash64: Column => Column = {
    val f = udf((toks: Seq[String]) => {
      val votes = new Array[Int](60)
      toks.foreach { t =>
        val h = hash60(t)
        var b = 0
        while (b < 60) { votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1); b += 1 }
      }
      var out = 0L
      var b = 0
      while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    })
    (c: Column) => f(c)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue() = java.security.MessageDigest.getInstance("MD5")
  }

  /** JVM twin of [[h60]] for use inside kernels: value of the first 15
    * hex chars of md5 = top 60 bits of the first 8 digest bytes. */
  def hash60(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4 // drop the 16th hex digit
  }

  /** Position-weighted document fingerprint (rolling-hash style):
    * sum_i (h60(tok_i) & 0xFFFFFFF) * (i+1). 28-bit masked terms keep
    * the int64 sum exact for documents up to ~2^25 tokens. JVM kernel
    * for the same reason as [[minhashSignature]]. */
  def fingerprint(toks: Column): Column = {
    val f = udf((ts: Seq[String]) => {
      var acc = 0L
      var i = 0
      ts.foreach { t => acc += (hash60(t) & 0xFFFFFFFL) * (i + 1); i += 1 }
      acc
    })
    f(toks)
  }

  /** BPE-ish pre-tokenization (the GPT-2 pattern family reduced to its
    * ASCII core): letter runs, digit runs, punctuation runs — the unit
    * count LLM pipelines budget by before byte-pair merges. Same regex
    * semantics in Java and RE2, so oracle-safe. */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Marker-word profiles for the language-ID heuristic. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "en" -> Seq("the", "and", "of", "to", "a"),
    "es" -> Seq("el", "la", "que", "los", "una"),
    "fr" -> Seq("le", "les", "et", "des", "une"),
    "zh" -> Seq("de", "shi", "bu", "wo", "le"))

  /** Language-ID: score = marker-word occurrences per language; predict
    * the argmax, ties broken by language code order, 'und' if no marker
    * seen. Deterministic n-gram-free heuristic (real corpora would use
    * char n-gram profiles; same shape). */
  def langScores(toks: Column): Seq[(String, Column)] =
    langProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, t => words.map(w => t === w).reduce(_ || _)))
    }

  def langId(toks: Column): Column = {
    val scores = langScores(toks)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lit(lang))
    }
  }

  /** Deterministic hash bucket on a stable key — THE split primitive
    * every sampling/split query shares (one definition so the Spark and
    * DuckDB sides can never drift apart per call site). */
  def hashBucket(key: Column, n: Int): Column = h60(key.cast("string")) % n

  def hashBucketSql(expr: String, n: Int): String =
    s"${h60Sql(s"CAST($expr AS VARCHAR)")} % $n"

  /** Connected components over an undirected edge list (`a`, `b`) —
    * the stage after near-dup candidate pairs in a real dedup pipeline:
    * pairs chain into clusters, and the keeper is one doc per cluster,
    * not one per pair.
    *
    * Alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014):
    * large-star hangs every larger neighbor of u under
    * m = min(Γ(u) ∪ u); small-star re-hangs u and its not-larger
    * neighbors under m. Each phase is one aggregation + one join over
    * the (shrinking) edge set, and the edge set converges to disjoint
    * stars centered at each component's MINIMUM node in O(log²  n)
    * rounds with high probability — on real graphs a handful. This
    * replaced a min-label + pointer-jump loop whose label jumps turned
    * out not to shortcut GRAPH distance: on the circulant ε-graph of
    * r_dbscan_core at sf0.1 (15 000 nodes) it still had 177 labels
    * moving at round 25 and needed 53 rounds (simulated; extra jump
    * steps did not help), where the star algorithm converges in 7.
    *
    * Every phase materializes through
    * [[graft.ops.Materialize.checkpointFresh]]: the self-referencing
    * join would otherwise both double the analyzed plan per round and
    * (via localCheckpoint's stats inheritance) multiply the size
    * ESTIMATE's bit-length per round until BigInt stats arithmetic
    * dominated the driver — see the Materialize scaladoc.
    * Deterministic: the component label IS the minimum node id.
    * Returns (node, cluster), one row per input-edge endpoint.
    *
    * SCALE-ADAPTIVE EXECUTION: the normalized distinct edge set —
    * self-loops kept, so it carries the whole node universe — is
    * materialized before the loop either way; at or under the
    * [[graft.ops.LocalGraph]] size gate the star loop collapses to one
    * driver-side union-find, past it the loop runs as below. The label
    * VALUES are identical by construction (min node id per component
    * both ways). */
  def connectedComponents(edges: org.apache.spark.sql.DataFrame,
                          maxIter: Int = 25): org.apache.spark.sql.DataFrame = {
    import graft.ops.Materialize.checkpointFresh
    // pre-materialization capture (the Ranking seam): CC executes
    // eagerly, so a consumer gate's final plan is a stub — record the
    // INPUT edge plan for PlanDump/PlanInvariantsSpec (front scans,
    // join shapes) exactly like the two-phase rank builders do.
    {
      val cbuf = graft.ops.Ranking.captureTo.get()
      if (cbuf != null)
        cbuf += "cc_edges" -> edges.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
    }
    // r12: normalize WITHOUT dropping self-loops first, so the node
    // universe (incl. self-loop-only nodes, which owe an output row
    // labeled by themselves) derives from the CHECKPOINTED set — the
    // old shape re-executed the full input edge lineage a second time
    // for `nodes` (once per local collect, and again in the final join
    // of the distributed path).
    val e0 = checkpointFresh(
      edges.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct())
    // one phase: hang the selected neighbors of each center u under
    // m = min(neighborhood ∪ u). Every emitted edge is (m, v) with
    // m < v, so the (a < b) normalization is free.
    def star(e: org.apache.spark.sql.DataFrame, large: Boolean): org.apache.spark.sql.DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val joined = sym.join(m, Seq("u"))
      val kept =
        if (large)
          joined.where(col("v") > col("u") && col("v") =!= col("m"))
            .select(col("m").as("a"), col("v").as("b"))
        else
          joined.where(col("v") <= col("u") && col("v") =!= col("m"))
            .select(col("m").as("a"), col("v").as("b"))
            .unionByName(m.where(col("u") =!= col("m")) // u itself re-hangs
              .select(col("m").as("a"), col("u").as("b")))
      kept.distinct()
    }
    graft.ops.LocalGraph.gate("connectedComponents", e0, 2) match {
      case Some(chunks) =>
        // union-find with path halving; a self-loop only registers its node
        val g = graft.ops.LocalGraph.graph(chunks, 2)
        val parent = Array.range(0, g.nodes)
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        var k = 0
        while (k < g.src.length) {
          val ra = find(g.src(k)); val rb = find(g.dst(k))
          if (ra != rb) parent(rb) = ra
          k += 1
        }
        // label of a component = min node id over its members
        val minOf = Array.fill(g.nodes)(Long.MaxValue)
        var i = 0
        while (i < g.nodes) {
          val root = find(i)
          if (g.ids(i) < minOf(root)) minOf(root) = g.ids(i)
          i += 1
        }
        graft.ops.LocalGraph.frame(edges.sparkSession,
          Array.tabulate(g.nodes)(i => org.apache.spark.sql.Row(g.ids(i), minOf(find(i)))),
          Seq("node" -> org.apache.spark.sql.types.LongType,
            "cluster" -> org.apache.spark.sql.types.LongType))
      case None =>
        var e = e0.where(col("a") =!= col("b"))

        var changed = 1L
        var it = 0
        while (changed > 0 && it < maxIter) {
          val e2 = checkpointFresh(star(star(e, large = true), large = false))
          // the star map's fixed points are exactly the disjoint
          // min-centered star sets, and (with a < b normalization) E is one
          // iff every b has a unique parent AND no node is both parent and
          // child (depth-1 forest whose root is its star's minimum). Testing
          // THAT on e2 alone detects convergence the round it happens — no
          // edge-set diff against the previous round, no verification round.
          val stat = e2.agg(count(lit(1)).as("n"), countDistinct(col("b")).as("nb")).first()
          changed =
            if (stat.getLong(0) != stat.getLong(1)) 1L
            else e2.select(col("a"))
              .join(e2.select(col("b").as("a")), Seq("a"), "left_semi").count()
          // the superseded round's blocks; round 1 read e0, which the result reads
          if (it > 0) graft.ops.Materialize.free(e)
          e = e2
          it += 1
        }
        if (changed > 0)
          org.slf4j.LoggerFactory.getLogger("graft.text.TextOps").warn(
            s"connectedComponents exited at maxIter=$maxIter with the edge set still contracting — " +
              "clusters may be under-merged; raise maxIter")
        // at the fixed point stars are disjoint (one center per node); the
        // min-agg only matters on a maxIter bail, where it keeps the output
        // one row per node
        val centers = e.groupBy(col("b").as("node")).agg(min(col("a")).as("cluster"))
        val nodes = e0.select(col("a").as("node"))
          .unionByName(e0.select(col("b").as("node"))).distinct()
        // the returned plan reads e0 (through `nodes`) and the last
        // round's blocks lazily, so no point inside this function can
        // free them: they live as long as the caller's plan
        nodes.join(centers, Seq("node"), "left")
          .select(col("node"), coalesce(col("cluster"), col("node")).as("cluster"))
    }
  }

  /** Dedup survivorship from a PRE-COMPUTED cluster table — the
    * pipeline form of the keeper stage: in a real corpus run the
    * cluster assignment is materialized once (t_dedup_clusters) and
    * every later stage JOINS it instead of re-deriving the
    * MinHash+LSH+CC chain. `docs` needs (doc_id, n_chars); `clusters`
    * needs (doc_id, cluster); docs in no cluster keep themselves.
    * Keeper policy: longest text, ties to the smallest doc_id. Scale
    * shape: two key joins plus a partial-aggregating groupBy(cluster)
    * max(struct) — ONE row per cluster crosses the shuffle (never a
    * per-cluster sort window). */
  def keeperFromClusters(docs: org.apache.spark.sql.DataFrame,
                         clusters: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val labeled = docs.select(col("doc_id"), col("n_chars"))
      .join(clusters.select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("cluster"), col("n_chars"))
    val keepers = labeled.groupBy(col("cluster"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("top"))
      .select(col("cluster"), (-col("top.neg_id")).as("keeper"))
    labeled.join(keepers, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), (col("doc_id") === col("keeper")).as("kept"))
  }

  /** Fixed-iteration PageRank over an undirected edge list (`a`, `b`) —
    * the ranking stage of TextRank-style keyword extraction (Mihalcea &
    * Tarau, EMNLP 2004) and of link-graph quality scoring in corpus
    * curation. Power iteration with damping 0.85, a FIXED iteration
    * count (so the result is a closed-form arithmetic function of the
    * graph, oracle-checkable by unrolling), and order-free float
    * discipline: each neighbor contribution r/deg lands in a
    * DECIMAL(28,12) BEFORE the per-node sum, so the aggregation cannot
    * depend on partition order, and the rank update is one fixed-order
    * double chain (0.15/n + 0.85*in_r). The graph-size constant rides
    * along as a broadcast single-row crossJoin — no driver action in
    * the plan. Each iteration is one vocabulary/node-keyed join + one
    * aggregation; AQE broadcasts the rank table while it fits and
    * shuffle-joins when the graph outgrows the executor. The iteration
    * count is a constant (not data-dependent), so the analyzed plan is
    * bounded and there is no checkpoint cadence to manage (contrast
    * [[connectedComponents]], whose round count grows with diameter).
    * The symmetric edge list and the degree table are LAZY local
    * checkpoints: every iteration re-reads both, and without the
    * truncation the plan embeds the distinct() subtree 2x per
    * iteration (62 Exchange nodes at iters=3 vs ~15 after). Lazy, not
    * eager, so building the query plans no jobs; the blocks land on
    * first execution and are scoped to the checkpoint RDDs' lifetime
    * (same storage trade connectedComponents makes for its edge list). */
  def pageRank(edges: org.apache.spark.sql.DataFrame, iters: Int = 3): org.apache.spark.sql.DataFrame = {
    // lazy checkpoints (see above) truncate the plan without a job at
    // build time, so they stay outside Materialize's eager seam
    val sym = edges.select(col("a").as("x"), col("b").as("y"))
      .unionByName(edges.select(col("b").as("x"), col("a").as("y")))
      .distinct().localCheckpoint(false)
    val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val nRow = broadcast(deg.agg(count(lit(1)).cast("double").as("n_nodes")))
    var r = deg.crossJoin(nRow)
      .select(col("x").as("w"), (lit(1.0) / col("n_nodes")).as("r"))
    for (k <- 1 to iters) {
      val contrib = sym
        .join(r.select(col("w").as("x"), col("r")), Seq("x"))
        .join(deg, Seq("x"))
        .select(col("y").as("w"),
          (col("r") / col("deg").cast("double")).cast("decimal(28,12)").as("c"))
      val next = contrib.groupBy(col("w"))
        .agg(sum(col("c")).cast("double").as("in_r"))
        .crossJoin(nRow)
        .select(col("w"),
          (lit(0.15) / col("n_nodes") + lit(0.85) * col("in_r")).as("r"))
      // lazy checkpoint BETWEEN iterations (no build-time job): the
      // final plan stays one iteration deep instead of nesting all
      // prior iterations; the last iteration is returned un-truncated
      // so callers (and the plans/ audit) still see the real join+agg
      // shape
      r = if (k == iters) next else next.localCheckpoint(false)
    }
    r
  }
}
