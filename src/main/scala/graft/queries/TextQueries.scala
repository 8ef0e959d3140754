package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.sql.functions._
import graft.text.TextOps
import Fixtures._

/** LLM-pipeline text operators over the `documents` table: exact and
  * near deduplication (MinHash-LSH, SimHash, n-gram Jaccard), token
  * counting, quality scoring, language-ID, fingerprinting. Oracles
  * replay the same arithmetic relationally in DuckDB (shared 60-bit
  * md5-prefix hash, see TextOps.h60).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  // Shared window/chunk width. MUST stay above every eager SQL-string
  // val that interpolates it: a forward reference to an uninitialized
  // Int val silently reads 0 (this bit t_substring_dedup's oracle once
  // — the Spark lambda read 16 lazily while the eager SQL string baked
  // in 0-derived bounds).
  private val ChunkTokens = 16

  private val docsCte =
    """docs AS (SELECT doc_id, text,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |FROM documents)""".stripMargin

  /** docs CTE variant carrying lang/source (mixRaking needs the domain
    * columns the shared docsCte drops). */
  private val docsCte2 =
    """docs2 AS (SELECT doc_id, lang, source,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
      |FROM documents)""".stripMargin

  private def docs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"), col("text"),
      TextOps.tokens(col("text")).as("toks"))

  private val h60TokSql = TextOps.h60Sql("t.tok")

  /** Token counting + type-token ratio (text analysis). */
  val textStats: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      length(col("text")).as("n_chars"),
      size(col("toks")).as("n_tokens"),
      size(array_distinct(col("toks"))).as("n_distinct"),
      (size(array_distinct(col("toks"))).cast("double") / size(col("toks"))).as("ttr"))

  val textStatsSql: String =
    s"""WITH $docsCte
       |SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
       |       CAST(len(toks) AS INT) AS n_tokens,
       |       CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
       |       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
       |FROM docs""".stripMargin

  /** Quality scoring: stopword ratio + type-token ratio blended. */
  val quality: Q = (s, dir) => {
    val stop = Seq("the", "a", "of", "and", "to")
    val stopCount = size(filter(col("toks"), t => stop.map(w => t === w).reduce(_ || _)))
    docs(s, dir).select(col("doc_id"),
      (stopCount.cast("double") / size(col("toks"))).as("stop_ratio"),
      (size(array_distinct(col("toks"))).cast("double") / size(col("toks")) * 0.6
        + (lit(1.0) - stopCount.cast("double") / size(col("toks"))) * 0.4).as("quality"))
  }

  val qualitySql: String =
    s"""WITH $docsCte,
       |q AS (SELECT doc_id,
       |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks) AS stop_ratio,
       |  CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
       |FROM docs)
       |SELECT doc_id, stop_ratio, ttr * 0.6 + (1.0 - stop_ratio) * 0.4 AS quality
       |FROM q""".stripMargin

  /** Language-ID: marker-word argmax (deterministic tie-break by
    * profile order, 'und' when no marker present). */
  val langId: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"), TextOps.langId(col("toks")).as("lang_pred"))

  val langIdSql: String = {
    val scores = TextOps.langProfiles.map { case (lang, ws) =>
      s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$lang"
    }.mkString(",\n       |  ")
    val langs = TextOps.langProfiles.map(_._1)
    val best = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString("\n       |       ")
    s"""WITH $docsCte,
       |sc AS (SELECT doc_id,
       |  $scores
       |FROM docs)
       |SELECT doc_id,
       |  CASE WHEN $best <= 0 THEN 'und'
       |       $cases
       |  END AS lang_pred
       |FROM sc""".stripMargin
  }

  /** The composite KEEP/DROP stage a real training-data pipeline runs:
    * length floor + quality blend + language-ID + repetition cap, each
    * surfaced as its own verdict flag plus the combined `keep`. Every
    * signal is computed map-side in ONE pass over the doc (the
    * repetition signal uses the row-wise kernel, not the explode
    * rollup), so the whole filter stage is embarrassingly parallel —
    * zero Exchanges at any corpus size. Thresholds are illustrative;
    * the point the gate proves is that the composed verdict matches a
    * relational oracle bit-for-bit, so each signal's semantics are
    * pinned where a filter bug would silently skew the corpus. */
  /** The filter stage as a standalone transform over any frame carrying
    * (doc_id, toks) — STATELESS (zero Exchanges), so it applies
    * unchanged to a streaming frame; StreamingQualityFilterSpec proves
    * the stream emits row-for-row what this computes in batch. */
  def qualityFilterStage(d: DataFrame): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    val stopCount = size(filter(col("toks"), t => stop.map(w => t === w).reduce(_ || _)))
    val quality = when(size(col("toks")) > 0,
      size(array_distinct(col("toks"))).cast("double") / size(col("toks")) * 0.6
        + (lit(1.0) - stopCount.cast("double") / size(col("toks"))) * 0.4)
      .otherwise(lit(0.0))
    d.select(col("doc_id"),
        size(col("toks")).as("n_tokens"), quality.as("quality"),
        TextOps.langId(col("toks")).as("lang_pred"),
        TextOps.repetitionScores(col("toks")).getItem(0).as("top_bigram_frac"))
      .select(col("doc_id"),
        (col("n_tokens") >= 5).as("len_ok"),
        (col("quality") >= 0.5).as("quality_ok"),
        (col("lang_pred") =!= "und").as("lang_ok"),
        (col("top_bigram_frac") < 0.5).as("rep_ok"))
      .withColumn("keep",
        col("len_ok") && col("quality_ok") && col("lang_ok") && col("rep_ok"))
  }

  val qualityFilter: Q = (s, dir) => qualityFilterStage(docs(s, dir))

  val qualityFilterSql: String = {
    val scores = TextOps.langProfiles.map { case (lang, ws) =>
      s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$lang"
    }.mkString(",\n       |  ")
    val langs = TextOps.langProfiles.map(_._1)
    val best = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString("\n       |       ")
    s"""WITH $docsCte,
       |sc AS (SELECT doc_id,
       |  $scores
       |FROM docs),
       |lp AS (SELECT doc_id,
       |  CASE WHEN $best <= 0 THEN 'und'
       |       $cases
       |  END AS lang_pred
       |FROM sc),
       |bgc AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS g FROM docs)
       |  GROUP BY 1, 2),
       |b AS (SELECT doc_id,
       |        CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
       |      FROM bgc GROUP BY 1),
       |q AS (SELECT doc_id, len(toks) AS n_tokens,
       |        CASE WHEN len(toks) > 0 THEN
       |          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.6
       |          + (1.0 - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks)) * 0.4
       |        ELSE 0.0 END AS quality
       |      FROM docs)
       |SELECT q.doc_id,
       |       q.n_tokens >= 5 AS len_ok,
       |       q.quality >= 0.5 AS quality_ok,
       |       lp.lang_pred <> 'und' AS lang_ok,
       |       COALESCE(b.top_bigram_frac, 0.0) < 0.5 AS rep_ok,
       |       (q.n_tokens >= 5 AND q.quality >= 0.5 AND lp.lang_pred <> 'und'
       |        AND COALESCE(b.top_bigram_frac, 0.0) < 0.5) AS keep
       |FROM q JOIN lp ON q.doc_id = lp.doc_id
       |LEFT JOIN b ON q.doc_id = b.doc_id""".stripMargin
  }

  /** Position-weighted fingerprint (rolling-hash style). */
  val fingerprint: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("toks")).as("fp"))

  val fingerprintSql: String =
    s"""WITH $docsCte
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(1, len(toks) + 1),
       |    i -> (${TextOps.h60Sql("toks[i]")} & 268435455) * i)) AS BIGINT) AS fp
       |FROM docs""".stripMargin

  /** Exact deduplication: content-hash groups, keeper = min doc id. */
  val dedupExact: Q = (s, dir) =>
    table(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Hot-shingle document-frequency cap: a shingle occurring in f docs
    * emits f^2 candidate-pair rows on ONE join key, so stop-phrase
    * shingles ("of the and") produce quadratic blowup + maximal skew on
    * exactly the keys a real corpus has most of. Dropping shingles with
    * df > cap before the self-join bounds every join key at cap^2 rows;
    * the Jaccard is then computed over the filtered (discriminative)
    * shingle universe on both sides, so the oracle stays exact. */
  private val MaxShingleDf = 64

  /** n-gram Jaccard near-dup via capped posting lists: ONE shuffle of
    * (doc, shingle-hash) rows groups each shingle's doc list (size-capped
    * — a hot stop-phrase shingle costs O(cap) memory and is dropped, not
    * f^2 join rows on one key); candidate pairs explode from lists of
    * <= cap docs (never all-pairs, never a self-join); exact Jaccard on
    * int set sizes over the capped shingle universe. */
  /** Shared shingle-pair pipeline: (a, b, inter, na, nb) for every
    * candidate pair with >= 2 common discriminative shingles — consumed
    * by t_ngram_jaccard (symmetric) and t_containment (asymmetric). */
  private def shinglePairs(s: SparkSession, dir: String): DataFrame = {
    // group on the 60-bit shingle hash, not the string: 8-byte shuffle
    // keys instead of ~20-byte strings (same oracle family)
    val shAll = docs(s, dir).select(col("doc_id"),
      explode(array_distinct(TextOps.shingles3(col("toks")))).as("shs"))
      .select(col("doc_id"), TextOps.h60(col("shs")).as("sh"))
    val post = udaf(new TextOps.CappedPostingList(MaxShingleDf),
      org.apache.spark.sql.Encoders.scalaLong)
    // both consumers below share this aggregation's exchange (ReusedExchange)
    val lists = shAll.groupBy(col("sh")).agg(post(col("doc_id")).as("ds"))
      .where(size(col("ds")) <= MaxShingleDf)
    val sizes = lists.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // ds is sorted -> (ds(i), ds(j)) for i<j gives a<b directly.
    // JVM kernel, not transform+slice HOFs: Spark interprets HOF lambdas
    // per element, and slice() copies O(n) per outer element (O(n^2)
    // array churn per posting list) — the kernel emits the same pairs
    // in one allocation-light pass
    val pairsKernel = udf((ds: Array[Long]) => {
      val n = ds.length
      val out = Seq.newBuilder[(Long, Long)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out += ((ds(i), ds(j))); j += 1 }
        i += 1
      }
      out.result()
    })
    val combos = pairsKernel(col("ds"))
    val pairs = lists.where(size(col("ds")) >= 2)
      .select(explode(combos).as("p"))
      .groupBy(col("p._1").as("a"), col("p._2").as("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("nb")), Seq("b"))
      .where(col("inter") >= 2)
  }

  /** MATERIALIZED candidate-pair front: shinglePairs' (a, b, inter,
    * na, nb) written once per process per data dir — the third
    * instance of the round-8 front pattern (MinHash sigFront, raster
    * regionLabelFront): the capped-posting-list candidate table is a
    * pipeline artifact that containment scoring, weighted graph
    * analytics and the recall audit all READ. t_ngram_jaccard stays
    * fully in-plan (it oracles the whole posting-list derivation);
    * exact integers through the parquet round-trip keep every
    * consumer's hash unchanged. */
  def shinglePairsFront(s: SparkSession, dir: String): DataFrame =
    graft.sources.Parquet.read(s, front(dir, "pairfront")(shinglePairs(s, dir).write.mode("overwrite").parquet(_)))

  val ngramJaccard: Q = (s, dir) =>
    shinglePairs(s, dir).select(col("a"), col("b"),
      (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))

  /** Containment coefficient |A∩B| / min(|A|,|B|) over the same capped
    * shingle universe — the ASYMMETRIC near-dup signal Jaccard misses:
    * a short doc quoted inside a long one has high containment but low
    * Jaccard. is_subset flags containment ≥ 0.8 pairs whose Jaccard
    * stays < 0.5 — the quote/boilerplate-extraction candidates. Same
    * single-shuffle posting-list pipeline as t_ngram_jaccard. */
  val containment: Q = (s, dir) =>
    shinglePairsFront(s, dir).select(col("a"), col("b"), col("inter"),
      (col("inter").cast("double") / least(col("na"), col("nb"))).as("containment"),
      (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .withColumn("is_subset",
        col("containment") >= 0.8 && col("jaccard") < 0.5)

  private val shinglePairsCtes: String =
    s"""sh_all AS (
       |  SELECT DISTINCT doc_id, ${TextOps.h60Sql("g.shs")} AS sh
       |  FROM docs, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) g(shs)),
       |hot AS (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) > $MaxShingleDf),
       |sh AS (SELECT * FROM sh_all WHERE sh NOT IN (SELECT sh FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
       |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  val ngramJaccardSql: String =
    s"""WITH $docsCte,
       |$shinglePairsCtes
       |SELECT p.a, p.b,
       |       CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter) AS jaccard
       |FROM pairs p
       |JOIN sizes sa ON sa.doc_id = p.a
       |JOIN sizes sb ON sb.doc_id = p.b
       |WHERE p.inter >= 2""".stripMargin

  val containmentSql: String =
    s"""WITH $docsCte,
       |$shinglePairsCtes
       |SELECT p.a, p.b, p.inter,
       |       CAST(p.inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment,
       |       CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter) AS jaccard,
       |       (CAST(p.inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8 AND
       |        CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter) < 0.5) AS is_subset
       |FROM pairs p
       |JOIN sizes sa ON sa.doc_id = p.a
       |JOIN sizes sb ON sb.doc_id = p.b
       |WHERE p.inter >= 2""".stripMargin

  /** Prefix-filtered set-similarity join (Bayardo et al. All-Pairs /
    * PPJoin candidate rule, WWW'07 — public algorithm): EXACT Jaccard
    * ≥ τ pairs over distinct 3-shingle-hash sets WITHOUT the df-cap
    * heuristic's recall loss (the guaranteed-recall complement of
    * t_ngram_jaccard). Every set is ordered by global (df, hash); a
    * doc's PREFIX is its first |d| − ceil(τ·|d|) + 1 rarest shingles,
    * and the prefix-filter theorem guarantees any pair with J ≥ τ
    * shares its smallest common element inside BOTH prefixes — so the
    * candidate join touches only prefix shingles, with the PPJoin size
    * filter (τ·|a| ≤ |b| ≤ |a|/τ) applied inside the join; the exact
    * intersection is then counted over surviving candidates only.
    * The join runs on SHINGLES, not word tokens, deliberately: set
    * elements must be discriminative for prefix filtering to prune
    * (on this corpus's 31-word vocabulary a word-level join is
    * inherently quadratic in the OUTPUT — 90k of 125k pairs pass τ —
    * while the 16k-shingle universe yields the true near-dups only).
    * ceil(τ·len) at τ=0.5 is the integer (len+1) div 2, so both
    * engines cut identical prefixes.
    *
    * EXACT-DUPLICATE COLLAPSE (the All-Pairs paper's own preprocessing
    * step, and the move that makes this survive a duplicated corpus):
    * docs with IDENTICAL shingle sets are grouped (groupBy on the
    * sorted hash array — exact, no fingerprint collisions) and only
    * one REPRESENTATIVE per distinct set enters the prefix join. On a
    * corpus where every doc has d duplicates, every shingle's prefix
    * occurrence count carries a ×d factor and the candidate equi-join
    * fans out ×d² per key — the sf10 replica (d≈100) turned that into
    * a disk-filling 10⁴× shuffle. Collapsed, candidate volume depends
    * only on DISTINCT sets; the true pairs are reconstructed by
    * expanding rep-pairs across group members (cross of member lists,
    * |output|-bounded) plus the intra-group pairs, which are J = 1.0
    * by construction. Rep-side df is computed over reps — the prefix
    * theorem holds for ANY shared total order, and dup-free df is the
    * more discriminative one. */
  val prefixJoin: Q = (s, dir) => {
    import graft.ops.Materialize.checkpointFresh
    // collapse identical sets: (rep = min doc_id, members, len) per
    // set. r12 (VERDICT #4, guide §2.3): group on a FIXED-WIDTH md5 of
    // the sorted set, not the raw array — the old groupBy(set) shipped
    // and compared every doc's full shingle array through the
    // collapse exchange; the hash key is 32 chars regardless of set
    // size (md5 over the canonical comma-joined decimal form, so equal
    // sets — and only equal sets, modulo 2^-128 collisions — share a
    // key). perDoc IS the only materialization of the shingling pass:
    // every downstream consumer (collapse, df census, prefix, verify)
    // derives from these cached doc-level array rows.
    val perDoc = checkpointFresh(docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(TextOps.shingles3(col("toks")))).as("shs"))
      .select(col("doc_id"), TextOps.h60(col("shs")).as("sh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("sh"))).as("set"))
      .select(col("doc_id"), col("set"),
        md5(concat_ws(",", col("set").cast("array<string>")).cast("binary")).as("sk"),
        size(col("set")).cast("long").as("len")))
    val groups = checkpointFresh(perDoc.groupBy(col("sk"))
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("members"),
        max(col("len")).as("len"))
      .select(col("rep"), col("members"), col("len")))
    val mem = groups.select(col("rep"), explode(col("members")).as("doc"))
    // one row per distinct set: the rep's sorted shingle array
    val repSets = checkpointFresh(perDoc.select(col("doc_id"), col("set"))
      .join(groups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi"))
    graft.ops.Materialize.free(perDoc)
    val repSh = repSets.select(col("doc_id"), explode(col("set")).as("sh"))
    val dfc = repSh.groupBy(col("sh")).agg(count(lit(1)).as("dfc"))
    val sizes = groups.select(col("rep").as("doc_id"), col("len"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dfc"), col("sh"))
    val prefix = repSh.join(dfc, Seq("sh")).join(sizes, Seq("doc_id"))
      .withColumn("rn", row_number().over(wDoc))
      .where(col("rn") <= col("len") - expr("(len + 1) div 2") + 1)
      .select(col("sh"), col("doc_id"), col("len"), col("rn"))
    // r12: PPJoin POSITIONAL filter on top of the size filter (Xiao et
    // al., WWW'08 — public algorithm): J >= τ needs overlap α =
    // ceil(τ/(1+τ)·(la+lb)) (= ceil((la+lb)/3) at τ = 0.5, stated
    // integer-exactly as 3·x >= la+lb), and for the FIRST common
    // element in the shared (df, hash) order — which the prefix theorem
    // places in both prefixes — the overlap is at most 1 +
    // min(la−ra, lb−rb) (everything before it in either set is
    // non-common by minimality). A true pair therefore always survives
    // via that emission, and the DISTINCT keeps a pair if any emission
    // survives, so the prune is lossless; measured: candidate pairs
    // 280k -> far fewer feeding the verify join.
    val cand = prefix.select(col("sh"), col("doc_id").as("a"), col("len").as("la"), col("rn").as("ra"))
      .join(prefix.select(col("sh"), col("doc_id").as("b"), col("len").as("lb"), col("rn").as("rb")), Seq("sh"))
      .where(col("a") < col("b") &&
        lit(2) * col("lb") >= col("la") && lit(2) * col("la") >= col("lb") &&
        lit(3) * (lit(1) + least(col("la") - col("ra"), col("lb") - col("rb"))) >= col("la") + col("lb"))
      .select(col("a"), col("b")).distinct()
    // All-Pairs verify step: the intersection is computed per surviving
    // candidate over the two docs' shingle ARRAYS (sets are distinct,
    // so |array_intersect| is exactly the overlap count — a JVM
    // collection expression over ArrayData, no row explosion), instead
    // of exploding both sets to rows, shuffling the shingle-level join
    // and re-aggregating (the pre-r12 `shared` stage — Prof showed that
    // single job at 10.6 s of task time).
    val shared = cand
      .join(repSets.select(col("doc_id").as("a"), col("set").as("sa")), Seq("a"))
      .join(repSets.select(col("doc_id").as("b"), col("set").as("sb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"))
    val repPairs = shared
      .join(sizes.select(col("doc_id").as("a"), col("len").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("len").as("nb")), Seq("b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .where(col("jaccard") >= 0.5)
    // expand rep-pairs across group members; (a,b,na,nb) swap together
    // so a < b holds and na stays doc a's length
    val inter = repPairs
      .join(mem.select(col("rep").as("a"), col("doc").as("da")), Seq("a"))
      .join(mem.select(col("rep").as("b"), col("doc").as("db")), Seq("b"))
      .select(
        least(col("da"), col("db")).as("a"), greatest(col("da"), col("db")).as("b"),
        col("inter"),
        when(col("da") < col("db"), col("na")).otherwise(col("nb")).as("na"),
        when(col("da") < col("db"), col("nb")).otherwise(col("na")).as("nb"),
        col("jaccard"))
    // intra-group pairs: identical sets, J = 1.0, inter = len
    val intraMem = groups.where(size(col("members")) > 1)
      .select(col("rep"), col("len"), explode(col("members")).as("doc"))
    val intra = intraMem.select(col("rep"), col("len"), col("doc").as("a"))
      .join(intraMem.select(col("rep"), col("doc").as("b")), Seq("rep"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("len").as("inter"),
        col("len").as("na"), col("len").as("nb"), lit(1.0).as("jaccard"))
    inter.unionByName(intra)
  }

  val prefixJoinSql: String =
    s"""WITH $docsCte,
       |tk AS (
       |  SELECT DISTINCT doc_id, ${TextOps.h60Sql("g.shs")} AS sh
       |  FROM docs, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) g(shs)),
       |dfc AS (SELECT sh, COUNT(*) AS dfc FROM tk GROUP BY 1),
       |sizes AS (SELECT doc_id, COUNT(*) AS len FROM tk GROUP BY 1),
       |ranked AS (
       |  SELECT t.doc_id, t.sh, s.len,
       |         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.dfc, t.sh) AS rn
       |  FROM tk t JOIN dfc d ON t.sh = d.sh JOIN sizes s ON t.doc_id = s.doc_id),
       |prefix AS (SELECT sh, doc_id, len FROM ranked WHERE rn <= len - (len + 1) // 2 + 1),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM prefix x JOIN prefix y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  WHERE 2 * y.len >= x.len AND 2 * x.len >= y.len),
       |shared AS (
       |  SELECT c.a, c.b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN tk ta ON ta.doc_id = c.a
       |  JOIN tk tb ON tb.doc_id = c.b AND tb.sh = ta.sh
       |  GROUP BY 1, 2)
       |SELECT s.a, s.b, s.inter, sa.len AS na, sb.len AS nb,
       |       CAST(s.inter AS DOUBLE) / CAST(sa.len + sb.len - s.inter AS DOUBLE) AS jaccard
       |FROM shared s
       |JOIN sizes sa ON sa.doc_id = s.a
       |JOIN sizes sb ON sb.doc_id = s.b
       |WHERE CAST(s.inter AS DOUBLE) / CAST(sa.len + sb.len - s.inter AS DOUBLE) >= 0.5""".stripMargin

  /** SimHash-64: single-pass per-doc signature; oracle expands the
    * per-bit vote relationally. */
  val simhash: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"), TextOps.simhash64(col("toks")).as("simhash"))

  val simhashSql: String =
    s"""WITH $docsCte,
       |th AS (SELECT doc_id, $h60TokSql AS h FROM docs, unnest(toks) t(tok)),
       |bits AS (
       |  SELECT doc_id, b.b,
       |         SUM(CASE WHEN (h >> CAST(b.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, range(0, 60) b(b) GROUP BY 1, 2)
       |SELECT doc_id,
       |       CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1""".stripMargin

  /** SimHash near-dup PAIRS at hamming ≤ 3, found without doc×doc: the
    * 60-bit signature splits into 4 bands of 15 bits, and by pigeonhole
    * any pair within hamming 3 agrees on at least one whole band — so
    * candidates come from 4 band-key equi-joins (each a hash shuffle on
    * a 15-bit key), then one exact bit_count verify. The oracle is the
    * BRUTE-FORCE all-pairs scan, so a hash-match also PROVES the
    * banding lost no pair (completeness, not just precision). At corpus
    * scale the band join is the only shuffle and its fan-out is bounded
    * by docs sharing 15 signature bits; exact-dup clusters should be
    * collapsed by t_dedup_exact first to avoid quadratic bucket pairs. */
  val simhashPairs: Q = (s, dir) => {
    val sh = docs(s, dir).select(col("doc_id"), TextOps.simhash64(col("toks")).as("sh"))
    val banded = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          (shiftrightunsigned(col("sh"), b * 15).bitwiseAND(lit(0x7FFFL))).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).cast("int").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  val simhashPairsSql: String =
    s"""WITH $docsCte,
       |th AS (SELECT doc_id, $h60TokSql AS h FROM docs, unnest(toks) t(tok)),
       |bits AS (
       |  SELECT doc_id, b.b,
       |         SUM(CASE WHEN (h >> CAST(b.b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, range(0, 60) b(b) GROUP BY 1, 2),
       |shs AS (SELECT doc_id,
       |       CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
       |FROM bits GROUP BY 1)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM shs a JOIN shs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  private val K = 16

  /** MinHash signatures, exploded to (doc_id, j, mh) rows. */
  val minhashSig: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.minhashSignature(array_distinct(TextOps.shingles3(col("toks"))), K).as("sig"))
      .select(col("doc_id"), posexplode(col("sig")).as(Seq("j", "mh")))

  private val sigsCte =
    s"""sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles FROM docs),
       |shh AS (SELECT doc_id, list_transform(shingles,
       |    s -> ${TextOps.h60Sql("s")} & ${TextOps.MinhashMask30}) AS hs FROM sh),
       |sigs AS (SELECT doc_id, ${TextOps.minhashSigSqlExpr(K)} AS sig FROM shh)""".stripMargin

  val minhashSigSql: String =
    s"""WITH $docsCte,
       |$sigsCte
       |SELECT doc_id, CAST(r.j AS INT) AS j, sig[r.j + 1] AS mh
       |FROM sigs, range(0, $K) r(j)""".stripMargin

  /** The MinHash signature relation (doc_id, sig), derived in-plan —
    * the expensive front of every near-dup pipeline stage (one md5 per
    * shingle per doc). */
  private def sigsInline(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        TextOps.minhashSignature(array_distinct(TextOps.shingles3(col("toks"))), K).as("sig"))

  /** The MATERIALIZED signature front: (doc_id, sig) derived once per
    * process per data dir, written to tmp parquet, and read back by
    * every downstream consumer — the real-pipeline shape (the
    * generalization of t_keeper_from_clusters that round-7 VERDICT
    * asked for): at 100 TB the signature table is a persisted
    * artifact that candidate pairing, clustering, keeper selection,
    * graph analytics and decontamination all READ, never re-derive.
    * The first consumer in a process pays the derivation + write
    * (honest, and priced into its bench slot); t_minhash_sig and
    * t_minhash_lsh stay fully in-plan so the derivation itself remains
    * oracle-gated end to end. Values are bit-identical to the inline
    * form (same kernel, exact integers through a parquet round-trip),
    * so every consumer's hash is unchanged. */
  def sigFront(s: SparkSession, dir: String): DataFrame =
    graft.sources.Parquet.read(s, front(dir, "sigfront")(sigsInline(s, dir).write.mode("overwrite").parquet(_)))

  /** Banding + candidate pairing over a signature relation — the LSH
    * stage, parameterized by where the signatures come from (in-plan
    * for the gate that oracles the derivation; the materialized front
    * for every downstream consumer). */
  private def lshFromSigs(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(col("doc_id"), col("sig"),
      posexplode(TextOps.bandKeys(col("sig"), 4, 4)).as(Seq("band", "key")))
    // compute the estimate BEFORE dedup: a pair colliding in several
    // bands dedups on 24-byte (a, b, est) rows instead of shipping two
    // full signatures per collision through the distinct's exchange
    // (est is functionally determined by (a, b), so the result set is
    // identical)
    bands.select(col("band"), col("key"), col("doc_id").as("a"), col("sig").as("sa"))
      .join(bands.select(col("band"), col("key"), col("doc_id").as("b"), col("sig").as("sb")),
        Seq("band", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b)).cast("double") / K)
          .as("est_jaccard"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs: 4 bands x 4 rows; candidates share a
    * band key; similarity = matching signature fraction. Fully
    * in-plan (this gate oracles the whole derivation). */
  val minhashLsh: Q = (s, dir) => lshFromSigs(sigsInline(s, dir))

  /** The staged twin every downstream gate consumes: same values, but
    * the signature front comes from [[sigFront]]'s materialized
    * parquet — each consumer's plan contains ZERO MinHash/shingle
    * derivation work. */
  def minhashLshStaged(s: SparkSession, dir: String): DataFrame =
    lshFromSigs(sigFront(s, dir))

  // NOTE: embedded into outer .stripMargin templates — no line here may
  // start with '|' (an "|| ','" continuation would lose its first char)
  private val lshPairsCte =
    s"""bands AS (
       |  SELECT doc_id, sig, b.b AS band,
       |         CAST(sig[b.b * 4 + 1] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 2] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 3] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 4] AS VARCHAR) AS key
       |  FROM sigs, range(0, 4) b(b)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, x.sig AS sa, y.sig AS sb
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |lsh AS (
       |  SELECT a, b,
       |         CAST(len(list_filter(range(1, $K + 1), i -> sa[i] = sb[i])) AS DOUBLE) / $K AS est_jaccard
       |  FROM cand)""".stripMargin

  val minhashLshSql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte
       |SELECT a, b, est_jaccard FROM lsh""".stripMargin

  /** Dedup clusters — the stage after candidate pairs: near-dup pairs
    * chain transitively (a~b, b~c => one cluster {a,b,c}), and the
    * canonical keeper is one doc per CLUSTER. Min-label propagation over
    * the LSH candidate graph; the cluster id is the minimum doc id in
    * the component (deterministic). The oracle replays it as a recursive
    * reachability CTE — tiny at oracle scale, while the Spark side is
    * the distributed Pregel shape that holds at corpus scale. */
  val dedupClusters: Q = (s, dir) =>
    TextOps.connectedComponents(minhashLshStaged(s, dir).select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("cluster"))

  /** Unrolled min-label-propagation connected components over a
    * symmetric edge CTE `sym(x, y)` — the EXACT oracle twin of the
    * Spark star-contraction, replacing the transitive-closure
    * recursive CTE whose cost is O(Σ |component|²) rows (36 CPU-min at
    * the sf10 probe; 44 GB of spill for the corpus-prep variant) with
    * O(rounds · |E|). Each round: one propagation
    * (l'(x) = min(l(x), min_{(x,y)∈sym} l(y))) plus one pointer jump
    * (l''(x) = min(l'(x), l'(l'(x)))), so a component of diameter up
    * to ~2^rounds converges. Correctness is the fixpoint argument:
    * labels start ≥ the component min, never go below it, the min
    * node keeps itself, and a propagation fixpoint of a symmetric
    * edge set is constant per component — the guard CTE errors LOUDLY
    * if one more propagation round would still change a label, so an
    * under-provisioned unroll can never silently mismatch. Produces
    * `cc(doc_id, cluster)` — identical values to the closure form. */
  private def ccUnrolledCtes(rounds: Int): String = {
    // every CTE here is referenced 2-3 times by the next round;
    // without MATERIALIZED, inlining doubles the tree per round
    // (2^rounds copies of the base scan — "Too many open files")
    val steps = (0 until rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT s.x, LEAST(MIN(a.lbl), MIN(b.lbl)) AS lbl
         |  FROM sym s JOIN l$k a ON a.x = s.x JOIN l$k b ON b.x = s.y
         |  GROUP BY s.x),
         |l${k + 1} AS MATERIALIZED (
         |  SELECT p.x, LEAST(p.lbl, COALESCE(j.lbl, p.lbl)) AS lbl
         |  FROM p$k p LEFT JOIN p$k j ON j.x = p.lbl)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS MATERIALIZED (SELECT x, LEAST(x, MIN(y)) AS lbl FROM sym GROUP BY x),
       |$steps,
       |chg AS MATERIALIZED (
       |  SELECT COUNT(*) AS d FROM (
       |    SELECT s.x, LEAST(MIN(a.lbl), MIN(b.lbl)) AS nl
       |    FROM sym s JOIN l$rounds a ON a.x = s.x JOIN l$rounds b ON b.x = s.y
       |    GROUP BY s.x) t
       |  JOIN l$rounds f ON f.x = t.x WHERE t.nl <> f.lbl),
       |cc AS (
       |  SELECT x AS doc_id,
       |         CASE WHEN (SELECT d FROM chg) = 0 THEN lbl
       |              ELSE CAST(error('CC propagation not converged: raise rounds') AS BIGINT)
       |         END AS cluster
       |  FROM l$rounds)""".stripMargin
  }
  private val CcRounds = 6

  val dedupClustersSql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |sym AS MATERIALIZED (SELECT a AS x, b AS y FROM lsh UNION SELECT b, a FROM lsh),
       |${ccUnrolledCtes(CcRounds)}
       |SELECT doc_id, cluster FROM cc""".stripMargin

  /** Dedup survivorship — the final stage of the dedup pipeline: one
    * KEEPER document per near-dup cluster, chosen by a quality policy
    * (here: longest text, ties to the smallest doc_id — the "keep the
    * most complete copy" rule crawl pipelines use). Docs in no cluster
    * keep themselves. Scale shape: the keeper is found with a
    * partial-aggregating groupBy(cluster) max(struct) — ONE row per
    * cluster crosses the shuffle and a million-doc boilerplate cluster
    * costs the same as a pair — not a row_number window, which would
    * sort every member of the hottest cluster in one partition. */
  val dedupKeeper: Q = (s, dir) => {
    val cl = TextOps.connectedComponents(minhashLshStaged(s, dir).select(col("a"), col("b")))
      .select(col("node").as("doc_id"), col("cluster"))
    TextOps.keeperFromClusters(
      table(s, dir, "documents").select(col("doc_id"), col("n_chars")), cl)
  }

  /** Keeper from a MATERIALIZED cluster table — the pipeline pattern
    * t_dedup_keeper's self-contained form cannot show: the cluster
    * assignment (t_dedup_clusters' output) is written once and the
    * keeper stage reads it back as an input, so the keeper's own plan
    * contains ZERO MinHash/LSH/CC work — two key joins and a
    * partial-agg groupBy over (doc_id, cluster, n_chars). Same final
    * table as t_dedup_keeper, same oracle shape. Side-effecting by
    * design (the materialization IS the point): the path is the
    * per-process, per-dir [[Fixtures.scratch]] path, rewritten
    * idempotently (mode=overwrite) on every invocation — including the
    * plan-audit pass — and deleted at JVM exit, the same lifecycle
    * every c_* catalog gate has. */
  val keeperFromClusterTable: Q = (s, dir) => {
    val base = scratch(dir, "clusters")
    dedupClusters(s, dir).write.mode("overwrite").parquet(base)
    TextOps.keeperFromClusters(
      table(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      graft.sources.Parquet.read(s, base))
  }

  val dedupKeeperSql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |sym AS MATERIALIZED (SELECT a AS x, b AS y FROM lsh UNION SELECT b, a FROM lsh),
       |${ccUnrolledCtes(CcRounds)},
       |lab AS (SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster, d.n_chars
       |        FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id)
       |SELECT doc_id, cluster,
       |       ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) = 1 AS kept
       |FROM lab""".stripMargin

  /** Exact-substring (duplicated-span) dedup signal — STRIDE-1 sliding
    * [[ChunkTokens]]-token windows, flagged when the window hash occurs
    * in more than one distinct document (Lee et al. 2022's duplicated
    * long spans; t_chunk_dedup's stride-w blocks miss spans straddling
    * a block edge, this census does not). Scale shape: identical to
    * chunk dedup — ONE groupBy on the 8-byte window hash, join back,
    * per-doc rollup; the only cost delta is w× more windows per doc,
    * which is the algorithm's honest price (the suffix-array
    * formulation trades it for a global sort). Short docs stay in the
    * output with zero windows (explode_outer + count of non-nulls). */
  val substringDedup: Q = (s, dir) => {
    val hashed = docs(s, dir)
      .select(col("doc_id"), explode_outer(TextOps.windowHashes(col("toks"), ChunkTokens)).as("h"))
    val nd = hashed.where(col("h").isNotNull)
      .groupBy(col("h")).agg(count_distinct(col("doc_id")).as("nd"))
    hashed.join(nd, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("h")).as("n_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_windows") > 0,
          col("n_dup").cast("double") / col("n_windows").cast("double"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  val substringDedupSql: String =
    s"""WITH $docsCte,
       |wh AS (
       |  SELECT doc_id, ${TextOps.h60Sql("c")} AS h FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(1, len(toks) - ${ChunkTokens - 2}),
       |      i -> array_to_string(list_slice(toks, i, i + ${ChunkTokens - 1}), ' '))) AS c
       |    FROM docs)),
       |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wh GROUP BY 1),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       |         CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM wh JOIN nd USING (h) GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(a.n_windows, 0) AS n_windows,
       |       COALESCE(a.n_dup, 0) AS n_dup,
       |       CASE WHEN COALESCE(a.n_windows, 0) > 0
       |            THEN CAST(a.n_dup AS DOUBLE) / CAST(a.n_windows AS DOUBLE)
       |            ELSE 0.0 END AS dup_frac
       |FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Content-defined chunking census — the INSERTION-ROBUST dedup unit
    * (the rsync/FastCDC idea applied to token streams): a chunk
    * boundary falls wherever the hash of the trailing 4-token window
    * is ≡ 0 (mod 16), so boundaries re-synchronize after an edit —
    * one inserted token shifts every aligned block (t_chunk_dedup
    * finds nothing) but only the chunk containing the edit here.
    * Expected chunk length = the modulus (~16 tokens). Everything is
    * derived from the portable h60, so chunking is identical in any
    * engine. Scale shape: windows and boundaries are map-side; the
    * cumulative boundary count partitions per doc; the cross-doc
    * census is the same single chunk-hash groupBy as chunk dedup. */
  val cdcChunks: Q = (s, dir) => {
    val W = 4; val MOD = 16
    val d = docs(s, dir)
    val toksPos = d.select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
    val bounds = d.select(col("doc_id"),
        posexplode(TextOps.windowHashes(col("toks"), W)).as(Seq("s0", "wh")))
      .where(col("wh") % MOD === 0)
      .select(col("doc_id"), (col("s0") + (W - 1)).as("p"), lit(1L).as("flag"))
    val wspec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val chunks = toksPos.join(bounds, Seq("doc_id", "p"), "left")
      .withColumn("chunk_id", coalesce(sum(col("flag")).over(wspec), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(concat_ws(" ", transform(array_sort(collect_list(struct(col("p"), col("tok")))),
        x => x.getField("tok"))).as("ctext"))
      .select(col("doc_id"), TextOps.h60(col("ctext")).as("h"))
    val nd = chunks.groupBy(col("h")).agg(count_distinct(col("doc_id")).as("nd"))
    val agg = chunks.join(nd, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
    table(s, dir, "documents").select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  val cdcChunksSql: String =
    s"""WITH $docsCte,
       |tp AS (SELECT doc_id, r.i - 1 AS p, toks[r.i] AS tok
       |       FROM docs, unnest(range(1, len(toks) + 1)) r(i)),
       |bounds AS (
       |  SELECT doc_id, i + 2 AS p FROM (
       |    SELECT doc_id, r.i AS i,
       |           ${TextOps.h60Sql("array_to_string(list_slice(toks, r.i, r.i + 3), ' ')")} AS wh
       |    FROM docs, unnest(range(1, len(toks) - 2)) r(i))
       |  WHERE wh % 16 = 0),
       |chunked AS (
       |  SELECT tp.doc_id, tp.p, tp.tok,
       |         COALESCE(SUM(CASE WHEN b.p IS NOT NULL THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY tp.doc_id ORDER BY tp.p
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM tp LEFT JOIN bounds b ON tp.doc_id = b.doc_id AND tp.p = b.p),
       |chunks AS (
       |  SELECT doc_id, chunk_id,
       |         ${TextOps.h60Sql("string_agg(tok, ' ' ORDER BY p)")} AS h
       |  FROM chunked GROUP BY 1, 2),
       |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1),
       |agg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |         CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
       |  FROM chunks JOIN nd USING (h) GROUP BY 1)
       |SELECT d.doc_id, COALESCE(a.n_chunks, 0) AS n_chunks,
       |       COALESCE(a.n_shared, 0) AS n_shared
       |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  /** Triangle census of the near-dup candidate graph — the structural
    * health check on a dedup run: transitivity (3·triangles / wedges)
    * near 1 means candidate pairs chain into clean cliques (true dup
    * clusters); low transitivity flags a too-loose LSH banding that
    * bridges unrelated docs. Triangle join uses the standard
    * orientation bound: edges are kept (a < b), paths extend only
    * upward (a < b < c), so each triangle is counted exactly once and
    * the join fan-out is bounded by the oriented degree (at corpus
    * scale: orient by degree instead of id — same plan shape). Wedge
    * count is a degree aggregation, no join. Output is one row of
    * exact integers plus one division. */
  val triangles: Q = (s, dir) => {
    val e = minhashLshStaged(s, dir).select(col("a"), col("b")) // a < b by construction
    val paths = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tri = paths.join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .agg(count(lit(1)).as("n_triangles"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val wedges = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    tri.crossJoin(wedges)
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          (lit(3.0) * col("n_triangles").cast("double")) / col("n_wedges").cast("double"))
          .otherwise(lit(0.0)).as("transitivity"))
  }

  val trianglesSql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |e AS (SELECT a, b FROM lsh),
       |tri AS (
       |  SELECT COUNT(*) AS n_triangles
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |wg AS (
       |  SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
       |  FROM (SELECT a, COUNT(*) AS deg FROM sym GROUP BY 1))
       |SELECT n_triangles, n_wedges,
       |       CASE WHEN n_wedges > 0
       |            THEN 3.0 * CAST(n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
       |            ELSE 0.0 END AS transitivity
       |FROM tri, wg""".stripMargin

  /** Community detection by synchronous LABEL PROPAGATION (Raghavan et
    * al. 2007) over the LSH candidate graph — the community view of the
    * near-dup structure (connected components merge everything
    * touching; label propagation splits weakly-joined clumps). Three
    * synchronous rounds, each: every node takes the most frequent label
    * among its NEIGHBORS, ties to the smallest label — the argmax is
    * min(struct(-count, label)), pure integers, so rounds are
    * bit-deterministic and the oracle can UNROLL them as literal SQL.
    * Fixed-iteration by design (like t_textrank): plans stay three
    * joins deep, no checkpoint machinery needed. */
  val labelProp: Q = (s, dir) => {
    val e = minhashLshStaged(s, dir).select(col("a"), col("b"))
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    var labels = sym.select(col("a").as("v")).distinct().withColumn("lbl", col("v"))
    for (_ <- 1 to 3) {
      labels = sym
        .join(labels.select(col("v").as("b"), col("lbl")), Seq("b"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("a"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("best"))
        .select(col("a").as("v"), col("best.l").as("lbl"))
    }
    labels.select(col("v").as("doc_id"), col("lbl").as("community"))
  }

  val labelPropSql: String = {
    val rounds = (1 to 3).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""c$i AS (
         |  SELECT s.a, p.lbl, COUNT(*) AS cnt
         |  FROM sym s JOIN $prev p ON p.v = s.b GROUP BY 1, 2),
         |l$i AS (
         |  SELECT a AS v, lbl FROM (
         |    SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |e AS (SELECT a, b FROM lsh),
       |sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |l0 AS (SELECT DISTINCT a AS v, a AS lbl FROM sym),
       |$rounds
       |SELECT v AS doc_id, lbl AS community FROM l3""".stripMargin
  }

  /** k-core decomposition by synchronous peeling (k=3, four unrolled
    * rounds) over the LSH candidate graph — the cohesion filter that
    * separates dense duplicate cliques from stringy accidental chains
    * (t_triangles measures transitivity globally; the 3-core NAMES the
    * nodes inside dense regions). Each round drops nodes with fewer
    * than k alive neighbors; rounds are pure integer joins + counts,
    * so both engines replay them bit-identically and the oracle
    * unrolls the same four rounds as chained CTEs. The symmetrized
    * edge list and each round's survivor set are checkpointed
    * (the connectedComponents discipline): the unrolled plan stays
    * O(rounds) instead of 2^rounds re-derivations of the LSH pipeline
    * (each round references the previous survivor set TWICE — once per
    * endpoint). Output: every graph node, whether it survives four
    * peels, and its degree within the surviving set.
    *
    * Scale-adaptive ([[graft.ops.LocalGraph]]): the local form replays
    * the IDENTICAL 4 rounds (alive_i = nodes with >= KC sym-rows into
    * alive_{i-1}) over the collected edge list. */
  val kcore: Q = (s, dir) => {
    import graft.ops.LocalGraph
    val KC = 3
    val e = minhashLshStaged(s, dir).select(col("a"), col("b"))
    val eCk = graft.ops.Materialize.checkpointFresh(e)
    LocalGraph.gate("kcore", eCk, 2) match {
      case Some(chunks) =>
        val g = LocalGraph.graph(chunks, 2)
        val adj = LocalGraph.undirected(g)
        def aliveDeg(v: Int, alive: Array[Boolean]): Long = {
          var deg = 0L
          var k = adj.off(v)
          while (k < adj.off(v + 1)) { if (alive(adj.nbr(k))) deg += 1; k += 1 }
          deg
        }
        var alive = Array.fill(g.nodes)(true)
        for (_ <- 1 to 4) {
          val prev = alive
          alive = Array.tabulate(g.nodes)(v => prev(v) && aliveDeg(v, prev) >= KC)
        }
        LocalGraph.frame(s, Array.tabulate(g.nodes) { v =>
          Row(g.ids(v), if (alive(v)) 1 else 0, if (alive(v)) aliveDeg(v, alive) else 0L)
        }, Seq("doc_id" -> LongType, "in_core" -> IntegerType, "core_deg" -> LongType))
      case None =>
        val sym = eCk.unionByName(eCk.select(col("b").as("a"), col("a").as("b")))
        val nodes = sym.select(col("a").as("v")).distinct()
        // eager rounds: once round i has run, no plan reads round i-1,
        // so the result holds only the edge set and the last round
        var alive = nodes
        for (i <- 1 to 4) {
          val next = graft.ops.Materialize.checkpointFresh(sym
            .join(alive.select(col("v").as("a")), Seq("a"))
            .join(alive.select(col("v").as("b")), Seq("b"))
            .groupBy(col("a")).agg(count(lit(1)).as("deg"))
            .where(col("deg") >= KC).select(col("a").as("v")))
          if (i > 1) graft.ops.Materialize.free(alive)
          alive = next
        }
        val coreDeg = sym
          .join(alive.select(col("v").as("a")), Seq("a"))
          .join(alive.select(col("v").as("b")), Seq("b"))
          .groupBy(col("a")).agg(count(lit(1)).as("core_deg"))
          .select(col("a").as("v"), col("core_deg"))
        // the returned plan reads eCk (through `sym`) lazily, so no
        // point inside this query can free its blocks: they live
        // as long as the caller's plan
        nodes
          .join(alive.withColumn("inc", lit(1)), Seq("v"), "left")
          .join(coreDeg, Seq("v"), "left")
          .select(col("v").as("doc_id"),
            coalesce(col("inc"), lit(0)).as("in_core"),
            coalesce(col("core_deg"), lit(0L)).as("core_deg"))
    }
  }

  val kcoreSql: String = {
    val rounds = (1 to 4).map { i =>
      val prev = if (i == 1) "n0" else s"a${i - 1}"
      s"""a$i AS MATERIALIZED (
         |  SELECT s.a AS v FROM sym s
         |  JOIN $prev x ON x.v = s.a
         |  JOIN $prev y ON y.v = s.b
         |  GROUP BY 1 HAVING COUNT(*) >= 3)""".stripMargin
    }.mkString(",\n")
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |e AS (SELECT a, b FROM lsh),
       |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
       |n0 AS (SELECT DISTINCT a AS v FROM sym),
       |$rounds,
       |fd AS (
       |  SELECT s.a AS v, COUNT(*) AS core_deg FROM sym s
       |  JOIN a4 x ON x.v = s.a JOIN a4 y ON y.v = s.b GROUP BY 1)
       |SELECT n.v AS doc_id,
       |       CASE WHEN a4.v IS NULL THEN 0 ELSE 1 END AS in_core,
       |       COALESCE(fd.core_deg, 0) AS core_deg
       |FROM n0 n LEFT JOIN a4 ON a4.v = n.v LEFT JOIN fd ON fd.v = n.v""".stripMargin
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    * keyphrase baseline: candidate phrases are maximal stopword-free
    * token runs (the gaps-and-islands trick on token positions), word
    * score = degree/frequency from exact integer phrase statistics, and
    * each word's rational score lands in DECIMAL(18,6) BEFORE the
    * per-phrase sum so the aggregation is order-free (the lmScore
    * argument — here the quantized value is a ratio of small ints, no
    * transcendental at all). Top-20 phrases by score, ties on the
    * phrase text. Scale shape: two vocabulary-keyed aggregations + one
    * phrase-keyed rollup; the only global sort is the TakeOrdered 20. */
  val rakeStop = Seq("the", "a")

  val rake: Q = (s, dir) => {
    val words = docs(s, dir)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i", "w")))
      .where(!col("w").isin(rakeStop: _*))
    val rn = row_number().over(org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i")))
    val pw = words.withColumn("run", col("i") - rn)
    val plen = pw.groupBy(col("doc_id"), col("run")).agg(count(lit(1)).as("len"))
    val pww = pw.join(plen, Seq("doc_id", "run"))
    val wstat = pww.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
    pww.join(wstat, Seq("w"))
      .select(col("doc_id"), col("run"), col("i"), col("w"),
        (col("deg").cast("double") / col("freq").cast("double"))
          .cast("decimal(18,6)").as("sc"))
      .groupBy(col("doc_id"), col("run"))
      .agg(sum(col("sc")).cast("double").as("score"),
        concat_ws(" ", transform(sort_array(collect_list(struct(col("i"), col("w")))),
          p => p.getField("w"))).as("phrase"),
        count(lit(1)).as("n_words"))
      // ties at the cutoff are always between IDENTICAL output rows
      // (equal phrase text ⇒ equal words ⇒ equal n_words and score),
      // so (score, phrase) is a sufficient deterministic order
      .select(col("phrase"), col("n_words"), col("score"))
      .orderBy(col("score").desc, col("phrase"))
      .limit(20)
  }

  val rakeSql: String = {
    val stopList = rakeStop.map(w => s"'$w'").mkString(", ")
    s"""WITH $docsCte,
       |wd AS (
       |  SELECT doc_id, CAST(u.i AS INT) - 1 AS i, toks[CAST(u.i AS INT)] AS w
       |  FROM docs, unnest(range(1, len(toks) + 1)) u(i)
       |  WHERE toks[CAST(u.i AS INT)] NOT IN ($stopList)),
       |pw AS (
       |  SELECT doc_id, i, w,
       |         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS run
       |  FROM wd),
       |plen AS (SELECT doc_id, run, COUNT(*) AS len FROM pw GROUP BY 1, 2),
       |pww AS (SELECT pw.*, plen.len FROM pw JOIN plen USING (doc_id, run)),
       |wstat AS (SELECT w, COUNT(*) AS freq, CAST(SUM(len) AS BIGINT) AS deg
       |          FROM pww GROUP BY 1),
       |ph AS (
       |  SELECT pww.doc_id, pww.run,
       |         CAST(SUM(CAST(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
       |                       AS DECIMAL(18,6))) AS DOUBLE) AS score,
       |         array_to_string(list(pww.w ORDER BY pww.i), ' ') AS phrase,
       |         COUNT(*) AS n_words
       |  FROM pww JOIN wstat USING (w)
       |  GROUP BY 1, 2)
       |SELECT phrase, n_words, score FROM ph
       |ORDER BY score DESC, phrase LIMIT 20""".stripMargin
  }

  /** Candidate verification — the stage after LSH in a real dedup
    * pipeline: edit distance over bounded 64-char prefixes confirms or
    * rejects each candidate pair. Verification is map-side per candidate
    * (the expensive O(64^2) Levenshtein runs only on the LSH survivors,
    * never all-pairs), and the doc-text joins ship one 64-byte prefix
    * per side, not whole documents. */
  val lshVerify: Q = (s, dir) => {
    val pfx = table(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("pfx"))
    minhashLshStaged(s, dir)
      .join(pfx.select(col("doc_id").as("a"), col("pfx").as("pa")), Seq("a"))
      .join(pfx.select(col("doc_id").as("b"), col("pfx").as("pb")), Seq("b"))
      .select(col("a"), col("b"), col("est_jaccard"),
        levenshtein(col("pa"), col("pb")).as("lev"))
      .where(col("lev") <= 24)
  }

  val lshVerifySql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte
       |SELECT l.a, l.b, l.est_jaccard,
       |       CAST(levenshtein(substr(da.text, 1, 64), substr(db.text, 1, 64)) AS INT) AS lev
       |FROM lsh l
       |JOIN documents da ON da.doc_id = l.a
       |JOIN documents db ON db.doc_id = l.b
       |WHERE levenshtein(substr(da.text, 1, 64), substr(db.text, 1, 64)) <= 24""".stripMargin

  /** Domain-mixture rebalance — downsample every source domain to a
    * UNIFORM target mixture without upsampling (the "rebalance the
    * crawl so no domain dominates" pass of corpus curation). With a
    * uniform target the per-domain keep probability collapses to
    * n_min/n_d, so the 2^20-scaled keep threshold is PURE INTEGER
    * arithmetic ((n_min * 2^20) div n_d) and membership is the
    * deterministic portable hash h60(doc_id) % 2^20 < thresh — the
    * same doc survives in any engine, any run, any partitioning.
    * Scale shape: one tiny groupBy(source) for counts, the single-row
    * min broadcast back, the filter map-side, one closing groupBy. */
  val mixtureSample: Q = (s, dir) => {
    val d = table(s, dir, "documents").select(col("doc_id"), col("source"))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val th = counts.crossJoin(broadcast(nMin))
      .select(col("source"), col("n_docs"),
        expr("(n_min * 1048576) div n_docs").as("thresh"))
    val kept = d.join(broadcast(th.select(col("source"), col("thresh"))), Seq("source"))
      .where(TextOps.hashBucket(col("doc_id"), 1048576) < col("thresh"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    th.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("thresh"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  val mixtureSampleSql: String =
    s"""WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |mn AS (SELECT MIN(n_docs) AS n_min FROM counts),
       |th AS (SELECT source, n_docs, (n_min * 1048576) // n_docs AS thresh FROM counts, mn),
       |k AS (SELECT d.source, COUNT(*) AS n_kept
       |      FROM documents d JOIN th ON d.source = th.source
       |      WHERE ${TextOps.hashBucketSql("d.doc_id", 1048576)} < th.thresh
       |      GROUP BY 1)
       |SELECT t.source, t.n_docs, t.thresh, COALESCE(k.n_kept, 0) AS n_kept
       |FROM th t LEFT JOIN k ON t.source = k.source""".stripMargin

  /** Deterministic held-out split — hash-bucket sampling on the stable
    * doc key (80/10/10), reproducible across engines and runs: the split
    * a training pipeline freezes once and re-derives everywhere. Pure
    * map-side + one bounded aggregation. */
  val hashSplit: Q = (s, dir) => {
    val bucket = TextOps.hashBucket(col("doc_id"), 10)
    table(s, dir, "documents")
      .select(when(bucket < 8, "train").when(bucket === 8, "valid").otherwise("test").as("split"),
        col("n_chars"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
  }

  val hashSplitSql: String =
    s"""WITH s AS (SELECT ${TextOps.hashBucketSql("doc_id", 10)} AS b, n_chars
       |           FROM documents)
       |SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split,
       |       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
       |FROM s GROUP BY 1""".stripMargin

  /** TF-IDF vocabulary probe: top-20 terms by corpus tf-idf. Integer
    * term/document frequencies stay exact through ONE double division
    * (score = tf * N / df), so ordering is bit-deterministic; ties break
    * on the term. Single term-keyed aggregation (count + distinct-count
    * share the exchange), top-k via partial TakeOrdered, no global sort. */
  val tfidf: Q = (s, dir) => {
    val terms = docs(s, dir).select(col("doc_id"), explode(col("toks")).as("term"))
    terms.groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(table(s, dir, "documents").agg(count(lit(1)).as("n_docs"))))
      .select(col("term"), col("tf"), col("df"),
        ((col("tf") * col("n_docs")).cast("double") / col("df").cast("double")).as("score"))
      .orderBy(col("score").desc, col("term")).limit(20)
  }

  val tfidfSql: String =
    s"""WITH $docsCte,
       |t AS (SELECT doc_id, u.term FROM docs, unnest(toks) u(term)),
       |ag AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT term, tf, df,
       |       CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
       |FROM ag, n
       |ORDER BY score DESC, term LIMIT 20""".stripMargin

  /** Okapi BM25 retrieval scoring (k1=1.2, b=0.75) for a literal query
    * term set — the ranking function the inverted-index surface
    * (t_inverted_index) exists to serve. Exact integer tf/df/dl feed a
    * fixed-order per-(doc, term) scalar chain; each term score lands in
    * DECIMAL(18,6) BEFORE the per-doc sum, so the aggregation is
    * order-free (the lmScore ln-on-grid argument). The idf uses the
    * bit-portable integer ln: (N−df+0.5)/(df+0.5)+1 = (2N+2)/(2df+1)
    * exactly, so idf = lnI(2N+2) − lnI(2df+1)
    * ([[TextOps.lnIntInlineSql]] — engine ln at a decimal cliff is the
    * round-6 t_psi failure class). Scale shape: the posting filter is
    * 4 literal terms (pushed to the scan side of the explode), df and
    * corpus stats broadcast, ONE doc-keyed sum. */
  val bm25Terms = Seq("spark", "join", "window", "hash")

  val bm25: Q = (s, dir) => {
    val d = docs(s, dir).select(col("doc_id"), size(col("toks")).cast("long").as("dl"), col("toks"))
    val stats = d.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val hits = d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .where(col("term").isin(bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = hits.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // idf staged per TERM (4 rows), not inline per posting row: the
    // portable-ln op tree is identical either way, the 20 KB inline
    // expansion is not worth codegen'ing into the posting pipeline
    val idfTab = psLnStage(dfs.crossJoin(broadcast(stats)),
      Seq("(2 * n_docs + 2)" -> "nd", "(2 * df + 1)" -> "dfr"))
      .select(col("term"), col("n_docs"), col("sum_dl"),
        (col("ln_nd_raw") - col("ln_dfr_raw")).as("idf"))
    val denom = col("tf").cast("double") + lit(1.2) * (lit(0.25)
      + lit(0.75) * col("dl").cast("double")
        / (col("sum_dl").cast("double") / col("n_docs").cast("double")))
    hits.join(broadcast(idfTab), Seq("term"))
      .select(col("doc_id"),
        (col("idf") * (col("tf").cast("double") * lit(2.2)) / denom).cast("decimal(18,6)").as("sc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("sc")).cast("double").as("bm25"))
  }

  val bm25Sql: String = {
    val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH $docsCte,
       |d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM docs),
       |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM d),
       |hits AS (
       |  SELECT doc_id, dl, u.term, COUNT(*) AS tf
       |  FROM d, unnest(toks) u(term)
       |  WHERE u.term IN ($termList)
       |  GROUP BY 1, 2, 3),
       |dfs AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY 1),
       |sc AS (
       |  SELECT h.doc_id,
       |         CAST((${TextOps.lnIntInlineSql("(2 * s.n_docs + 2)", spark = false)}
       |               - ${TextOps.lnIntInlineSql("(2 * f.df + 1)", spark = false)})
       |              * (CAST(h.tf AS DOUBLE) * 2.2)
       |              / (CAST(h.tf AS DOUBLE) + 1.2 * (0.25
       |                   + 0.75 * CAST(h.dl AS DOUBLE)
       |                     / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
       |              AS DECIMAL(18,6)) AS sc
       |  FROM hits h JOIN dfs f USING (term) CROSS JOIN stats s)
       |SELECT doc_id, COUNT(*) AS n_terms_hit,
       |       CAST(SUM(sc) AS DOUBLE) AS bm25
       |FROM sc GROUP BY 1""".stripMargin
  }

  /** Two-corpus vocabulary shift — which terms distinguish one slice of
    * the corpus from the rest (the domain-drift / source-comparison
    * probe a data-mixing pipeline runs; Monroe et al. 2008's log-odds
    * family): corpus A = English docs, corpus B = the rest. The engine
    * emits the smoothed ODDS RATIO rather than its log — the same
    * ranking, but a pure rational chain over exact counts (the
    * t_collocations transcendental-dodge), so the gate hash-matches
    * bitwise with no decimal quantization. ONE term-keyed conditional
    * aggregation; totals broadcast. */
  val corpusShift: Q = (s, dir) => {
    val terms = table(s, dir, "documents")
      .select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
    val g = terms.groupBy(col("w")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("n_b"))
    val tot = broadcast(g.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb")))
    g.where(col("n_a") + col("n_b") >= 20).crossJoin(tot)
      .select(col("w").as("term"), col("n_a"), col("n_b"),
        (((col("n_a").cast("double") + lit(0.5))
          / ((col("ta") - col("n_a")).cast("double") + lit(0.5)))
          / ((col("n_b").cast("double") + lit(0.5))
            / ((col("tb") - col("n_b")).cast("double") + lit(0.5)))).as("odds_ratio"))
  }

  val corpusShiftSql: String =
    s"""WITH dl AS (SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |            FROM documents),
       |t AS (SELECT lang, u.w FROM dl, unnest(toks) u(w)),
       |g AS (SELECT w,
       |        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |        CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |      FROM t GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb FROM g)
       |SELECT w AS term, n_a, n_b,
       |       ((CAST(n_a AS DOUBLE) + 0.5) / (CAST(ta - n_a AS DOUBLE) + 0.5))
       |         / ((CAST(n_b AS DOUBLE) + 0.5) / (CAST(tb - n_b AS DOUBLE) + 0.5)) AS odds_ratio
       |FROM g, tot WHERE n_a + n_b >= 20""".stripMargin

  /** BPE-ish token counting (whitespace tokens vs pre-tokenizer units —
    * the budget numbers an LLM data pipeline tracks per document). */
  val bpeCount: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      size(col("toks")).as("n_ws_tokens"),
      size(TextOps.bpeTokens(col("text"))).as("n_bpe_tokens"))

  val bpeCountSql: String =
    s"""WITH $docsCte
       |SELECT doc_id, CAST(len(toks) AS INT) AS n_ws_tokens,
       |       CAST(len(regexp_extract_all(text, '${TextOps.BpePattern}')) AS INT) AS n_bpe_tokens
       |FROM docs""".stripMargin

  /** Corpus-wide top-k n-grams by document frequency (the vocabulary /
    * contamination probes a training-data pipeline runs): distinct
    * 3-gram per doc, global count, deterministic top-20. The plan is a
    * TakeOrderedAndProject — partial top-k per partition, never a full
    * global sort. */
  val topNgrams: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(TextOps.shingles3(col("toks")))).as("ng"))
      .groupBy(col("ng")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("ng")).limit(20)

  val topNgramsSql: String =
    s"""WITH $docsCte,
       |ng AS (SELECT DISTINCT doc_id, g.shs AS ng
       |  FROM docs, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) g(shs))
       |SELECT ng, COUNT(*) AS df FROM ng GROUP BY 1
       |ORDER BY df DESC, ng LIMIT 20""".stripMargin

  /** Heavy hitters through a Count-Min sketch, gated against the exact
    * answer: one d x w mergeable matrix summarizes every token
    * occurrence (at 100 TB: a 32 KB row per partition instead of a
    * vocabulary shuffle), then the exact top-20 tokens are looked up in
    * it. The oracle rebuilds the SAME matrix relationally — row hashes
    * are portable h60 over "r:token" — so cms_est matches bitwise, not
    * just approximately. exact_n <= cms_est is the sketch guarantee
    * (no false negatives); the spec checks the error bound. */
  val cmsHeavy: Q = (s, dir) => {
    val (d, w) = (4, 1024)
    val toks = docs(s, dir).select(explode(col("toks")).as("tok"))
    val matrix = toks.agg(graft.ops.Sketches.countMin(col("tok"), d, w))
      .head.getSeq[Long](0).toIndexedSeq
    val est = udf((t: String) => graft.ops.Sketches.cmsEstimate(matrix, d, w, t))
    toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(20)
      .withColumn("cms_est", est(col("tok")))
  }

  val cmsHeavySql: String =
    s"""WITH $docsCte,
       |tk AS (SELECT g.tok FROM docs, unnest(toks) g(tok)),
       |cnt AS (SELECT tok, COUNT(*) AS exact_n FROM tk GROUP BY tok),
       |top AS (SELECT tok, exact_n FROM cnt ORDER BY exact_n DESC, tok LIMIT 20),
       |cms AS (SELECT d, ${TextOps.h60Sql("CAST(d AS VARCHAR) || ':' || tok")} % 1024 AS b,
       |               COUNT(*) AS c
       |        FROM tk, range(0, 4) ds(d) GROUP BY 1, 2)
       |SELECT t.tok, t.exact_n, MIN(c.c) AS cms_est
       |FROM top t, range(0, 4) ds(d)
       |JOIN cms c ON c.d = ds.d
       |  AND c.b = ${TextOps.h60Sql("CAST(ds.d AS VARCHAR) || ':' || t.tok")} % 1024
       |GROUP BY 1, 2""".stripMargin

  /** Benchmark decontamination: drop training docs that share a MinHash
    * band key with any holdout doc (the standard "remove eval-set
    * near-matches from the training corpus" pass). Holdout here =
    * doc_id % 50 == 0; the anti-join runs on band keys, never on text. */
  val decontaminate: Q = (s, dir) => {
    val sigs = docs(s, dir)
      .select(col("doc_id"),
        TextOps.minhashSignature(array_distinct(TextOps.shingles3(col("toks"))), K).as("sig"))
    val bands = sigs.select(col("doc_id"),
      posexplode(TextOps.bandKeys(col("sig"), 4, 4)).as(Seq("band", "key")))
    val holdoutBands = bands.where(col("doc_id") % 50 === 0)
      .select(col("band"), col("key")).distinct()
    val contaminated = bands.where(col("doc_id") % 50 =!= 0)
      .join(holdoutBands, Seq("band", "key"))
      .select(col("doc_id")).distinct()
    docs(s, dir).where(col("doc_id") % 50 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), length(col("text")).as("n_chars"))
  }

  val decontaminateSql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |bands AS (
       |  SELECT doc_id, b.b AS band,
       |         CAST(sig[b.b * 4 + 1] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 2] AS VARCHAR)
       |           || ',' || CAST(sig[b.b * 4 + 3] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 4] AS VARCHAR) AS key
       |  FROM sigs, range(0, 4) b(b)),
       |hold AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 50 = 0),
       |bad AS (
       |  SELECT DISTINCT t.doc_id FROM bands t JOIN hold h
       |  ON t.band = h.band AND t.key = h.key WHERE t.doc_id % 50 <> 0)
       |SELECT d.doc_id, CAST(length(d.text) AS INT) AS n_chars
       |FROM docs d
       |WHERE d.doc_id % 50 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** The capstone composition: the corpus-preparation pipeline a
    * training-data team actually ships, as ONE query — quality filter
    * (map-side kernel verdicts) → exact dedup (content-hash groups,
    * keeper = min doc_id) → near-dup clusters (MinHash-LSH candidates
    * + distributed connected components, keep cluster minima) →
    * benchmark decontamination (band-key anti-join vs the holdout) →
    * surviving (doc_id, lang, n_tokens) rows. Every stage reuses the
    * operator already gated on its own (same functions, same
    * thresholds), so this gate pins the COMPOSITION: stage wiring,
    * survivor-set joins, column hygiene. Scale shape: band keys are
    * computed ONCE over the corpus and reused for both near-dup
    * pairing (filtered to exact-dedup survivors) and decontamination;
    * nothing doc x doc; one CC loop over 8-byte ids. */
  val corpusPrep: Q = (s, dir) => {
    val kept = qualityFilter(s, dir).where(col("keep")).select(col("doc_id"))
    // r12 (VERDICT #6, guide §5): s1 — the quality+exact-dedup survivor
    // id set — is consumed by THREE subtrees (the band pairing, the
    // decontamination join, the final survivor join), and its lineage
    // holds the expensive part (a full tokenize pass for the quality
    // verdicts plus an md5 over every doc body). Un-materialized, the
    // documents scan + kernels executed once inside the eager CC build
    // and twice more in the final plan. One eager checkpoint of the
    // doc_id-only frame (8 bytes/row at any corpus size) makes every
    // consumer a cached-block scan; the final plan scans
    // documents.parquet exactly once (the lang/n_tokens projection).
    val s1 = graft.ops.Materialize.checkpointFresh(
      table(s, dir, "documents").join(kept, Seq("doc_id"))
        .groupBy(md5(col("text").cast("binary")).as("ch"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")))
    // band keys come off the MATERIALIZED signature front (sigFront):
    // the plan's four band consumers (pairing a/b, holdout, decontam)
    // read the persisted table — zero in-plan MinHash derivation, the
    // round-8 materialized-front generalization
    val bands = sigFront(s, dir).select(col("doc_id"),
      posexplode(TextOps.bandKeys(col("sig"), 4, 4)).as(Seq("band", "key")))
    val bands1 = bands.join(s1, Seq("doc_id"))
    val pairs = bands1.select(col("band"), col("key"), col("doc_id").as("a"))
      .join(bands1.select(col("band"), col("key"), col("doc_id").as("b")), Seq("band", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val nonMin = TextOps.connectedComponents(pairs)
      .where(col("node") =!= col("cluster")).select(col("node").as("doc_id"))
    val s2 = s1.join(nonMin, Seq("doc_id"), "left_anti")
    val hold = bands.where(col("doc_id") % 50 === 0)
      .select(col("band"), col("key")).distinct()
    val bad = bands.join(s2, Seq("doc_id")).where(col("doc_id") % 50 =!= 0)
      .join(hold, Seq("band", "key")).select(col("doc_id")).distinct()
    val s3 = s2.where(col("doc_id") % 50 =!= 0).join(bad, Seq("doc_id"), "left_anti")
    table(s, dir, "documents").join(s3, Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
  }

  val corpusPrepSql: String = {
    val scores = TextOps.langProfiles.map { case (lang, ws) =>
      s"len(list_filter(toks, t -> t IN (${ws.map(w => s"'$w'").mkString(",")}))) AS s_$lang"
    }.mkString(",\n       |  ")
    val langs = TextOps.langProfiles.map(_._1)
    val best = s"GREATEST(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString("\n       |       ")
    s"""WITH $docsCte,
       |sc AS (SELECT doc_id, toks, $scores FROM docs),
       |lp AS (SELECT doc_id, CASE WHEN $best <= 0 THEN 'und'
       |       $cases
       |  END AS lang_pred FROM sc),
       |bgc AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS g FROM docs)
       |  GROUP BY 1, 2),
       |bfrac AS (SELECT doc_id,
       |        CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
       |      FROM bgc GROUP BY 1),
       |q AS (SELECT doc_id, len(toks) AS n_tokens,
       |        CASE WHEN len(toks) > 0 THEN
       |          CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) * 0.6
       |          + (1.0 - CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to'))) AS DOUBLE) / len(toks)) * 0.4
       |        ELSE 0.0 END AS quality
       |      FROM docs),
       |kept AS (
       |  SELECT q.doc_id FROM q
       |  JOIN lp ON q.doc_id = lp.doc_id
       |  LEFT JOIN bfrac ON q.doc_id = bfrac.doc_id
       |  WHERE q.n_tokens >= 5 AND q.quality >= 0.5 AND lp.lang_pred <> 'und'
       |    AND COALESCE(bfrac.top_bigram_frac, 0.0) < 0.5),
       |ek AS (SELECT MIN(d.doc_id) AS doc_id
       |       FROM documents d JOIN kept k ON d.doc_id = k.doc_id
       |       GROUP BY md5(d.text)),
       |$sigsCte,
       |bands AS (
       |  SELECT doc_id, b.b AS band,
       |         CAST(sig[b.b * 4 + 1] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 2] AS VARCHAR)
       |           || ',' || CAST(sig[b.b * 4 + 3] AS VARCHAR) || ',' || CAST(sig[b.b * 4 + 4] AS VARCHAR) AS key
       |  FROM sigs, range(0, 4) b(b)),
       |b1 AS (SELECT bands.* FROM bands JOIN ek ON bands.doc_id = ek.doc_id),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM b1 x JOIN b1 y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |sym AS MATERIALIZED (SELECT a AS x, b AS y FROM cand UNION SELECT b, a FROM cand),
       |${ccUnrolledCtes(CcRounds)},
       |s2 AS (SELECT doc_id FROM ek
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE cluster <> doc_id)),
       |hold AS (SELECT DISTINCT band, key FROM bands WHERE doc_id % 50 = 0),
       |bad AS (
       |  SELECT DISTINCT t.doc_id FROM bands t
       |  JOIN s2 ON t.doc_id = s2.doc_id
       |  JOIN hold h ON t.band = h.band AND t.key = h.key
       |  WHERE t.doc_id % 50 <> 0),
       |s3 AS (SELECT doc_id FROM s2
       |       WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad))
       |SELECT d.doc_id, dd.lang, CAST(len(d.toks) AS INT) AS n_tokens
       |FROM docs d
       |JOIN s3 ON d.doc_id = s3.doc_id
       |JOIN documents dd ON dd.doc_id = d.doc_id""".stripMargin
  }

  /** Gopher-style repetition signals (quality filtering): per doc, the
    * fraction of bigram occurrences taken by the single most frequent
    * bigram, and the fraction of trigram occurrences that are repeats
    * (within-doc count > 1) — the two strongest "degenerate text"
    * markers in published filtering stacks. Scale shape: n-grams are
    * built map-side from shifted-slice zips (no shuffle), then ONE
    * groupBy per n on (doc_id, gram); that key-space is near-unique so
    * partial aggregation absorbs almost everything map-side, and the
    * final per-doc rollup is a second partial-agg groupBy on doc_id.
    * No self-joins, nothing driver-side. */
  val repetition: Q = (s, dir) => {
    // n equal-length shifted slices zipped into n-grams: slice i covers
    // tokens [i+1, i+1+L) with L = len-(n-1) clamped at 0, so zip_with
    // never pads and short docs yield an empty gram array, not an error.
    def grams(n: Int) = {
      val len = greatest(size(col("toks")) - (n - 1), lit(0))
      (0 until n).map(i => slice(col("toks"), lit(i + 1), len))
        .reduceLeft((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
    }
    val d = docs(s, dir)
    val bg = d.select(col("doc_id"), explode(grams(2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("top_bigram_frac"))
    val tg = d.select(col("doc_id"), explode(grams(3)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).cast("double")
        / sum(col("c"))).as("dup_trigram_frac"))
    // left-join from ALL docs: a doc with < n tokens has no n-grams and
    // would vanish from an inner join — exactly the short/degenerate
    // docs a quality filter cares about. Its fractions default to 0.0.
    d.select(col("doc_id"))
      .join(bg, Seq("doc_id"), "left").join(tg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_trigram_frac"), lit(0.0)).as("dup_trigram_frac"))
  }

  /** The row-wise (stateless, streamable) twin of [[repetition]]: one
    * O(len) kernel pass per doc, NO shuffle — the shape an ingest-time
    * stream filter needs. Gated against the SAME oracle SQL as the
    * batch explode+groupBy plan, so the two plans are proven
    * interchangeable row-for-row. */
  val repetitionRowwise: Q = (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), TextOps.repetitionScores(col("toks")).as("r"))
      .select(col("doc_id"),
        col("r").getItem(0).as("top_bigram_frac"),
        col("r").getItem(1).as("dup_trigram_frac"))

  val repetitionSql: String =
    s"""WITH $docsCte,
       |bgc AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |      i -> toks[i] || ' ' || toks[i+1])) AS g FROM docs)
       |  GROUP BY 1, 2),
       |b AS (SELECT doc_id,
       |        CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
       |      FROM bgc GROUP BY 1),
       |tgc AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g FROM docs)
       |  GROUP BY 1, 2),
       |t AS (SELECT doc_id,
       |        CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
       |          / CAST(SUM(c) AS BIGINT) AS dup_trigram_frac
       |      FROM tgc GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(b.top_bigram_frac, 0.0) AS top_bigram_frac,
       |       COALESCE(t.dup_trigram_frac, 0.0) AS dup_trigram_frac
       |FROM docs d
       |LEFT JOIN b ON d.doc_id = b.doc_id
       |LEFT JOIN t ON d.doc_id = t.doc_id""".stripMargin

  // (declared near the top of the object — see the guard comment there)

  /** Chunk-level (paragraph-style) cross-document dedup: split each doc
    * into fixed [[ChunkTokens]]-token windows, hash each window with the
    * shared h60, and mark chunks whose hash occurs in more than one
    * distinct document — the boilerplate-removal stage of a crawl
    * pipeline (headers/footers repeat across pages even when full docs
    * differ). Scale shape: ONE groupBy on the chunk hash (partial-agg
    * distinct-doc count) and a hash-keyed join back; never doc x doc.
    * A chunk shared by millions of docs is one build-side row joined to
    * its probe rows — skew stays bounded by the probe side's own size. */
  val chunkDedup: Q = (s, dir) => {
    val hashed = docs(s, dir).select(col("doc_id"),
      explode(TextOps.chunkTexts(col("toks"), ChunkTokens)).as("chunk"))
      .select(col("doc_id"), TextOps.h60(col("chunk")).as("h"))
    val nd = hashed.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
    val shared = sum(when(col("nd") > 1, lit(1L)).otherwise(lit(0L)))
    hashed.join(nd, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), shared.as("n_shared"),
        (shared.cast("double") / count(lit(1))).as("shared_frac"))
  }

  val chunkDedupSql: String =
    s"""WITH $docsCte,
       |chunks AS (
       |  SELECT doc_id, ${TextOps.h60Sql("c")} AS h FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      range(0, greatest(CAST(ceil(len(ctoks) / $ChunkTokens.0) AS BIGINT), 1)),
       |      i -> array_to_string(list_slice(ctoks, i*$ChunkTokens + 1, i*$ChunkTokens + $ChunkTokens), ' '))) AS c
       |    FROM (SELECT doc_id, coalesce(toks, []) AS ctoks FROM docs))),
       |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |       CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |       CAST(SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS shared_frac
       |FROM chunks JOIN nd USING (h) GROUP BY 1""".stripMargin

  /** Global line/chunk-level dedup with RECONSTRUCTION — the C4 /
    * RefinedWeb granularity that document-level dedup misses: a
    * boilerplate chunk repeated across thousands of pages (nav bars,
    * license headers, cookie banners) is kept exactly ONCE corpus-wide
    * (its first occurrence: smallest doc_id, then smallest position)
    * and every later repeat is dropped; each document is then
    * reconstructed from its surviving chunks. Unlike t_chunk_dedup
    * (a shared-fraction census) this emits the dedup DECISION — per
    * doc, how many chunks and tokens survive. Keeper selection is the
    * same two-step min the cluster-keeper gates use (min doc, then min
    * position within it — exact integers, engine-portable). Scale
    * shape: one chunk-hash groupBy whose output is ≤ the DISTINCT
    * chunk count (boilerplate collapses map-side), one min refinement
    * join on the duplicated hashes only, one hash-keyed join back, one
    * doc-keyed aggregation — the corpus is never self-joined and no
    * row wider than (doc_id, idx, h) crosses a shuffle. */
  val lineDedup: Q = (s, dir) => {
    val chunks = docs(s, dir).select(col("doc_id"),
      posexplode(TextOps.chunkTexts(col("toks"), ChunkTokens)).as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("idx"),
        TextOps.h60(col("chunk")).as("h"),
        size(split(col("chunk"), " ")).as("n_toks"))
    val firstDoc = chunks.groupBy(col("h")).agg(min(col("doc_id")).as("kd"))
    val keeper = chunks.select(col("h").as("fh"), col("doc_id"), col("idx"))
      .join(firstDoc, col("fh") === firstDoc("h") && col("doc_id") === firstDoc("kd"))
      .groupBy(col("fh")).agg(min(col("idx")).as("ki"), min(col("kd")).as("kd"))
      .select(col("fh").as("h"), col("ki"), col("kd"))
    chunks.join(keeper, Seq("h"))
      .withColumn("keep",
        (col("doc_id") === col("kd") && col("idx") === col("ki")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("keep")).as("n_kept"),
        sum(col("keep") * col("n_toks")).as("kept_tokens"))
  }

  val lineDedupSql: String =
    s"""WITH $docsCte,
       |chunks0 AS (
       |  SELECT doc_id, unnest(list_transform(
       |          range(0, greatest(CAST(ceil(len(ctoks) / $ChunkTokens.0) AS BIGINT), 1)),
       |          i -> {'i': i, 'c': array_to_string(list_slice(ctoks, i*$ChunkTokens + 1, i*$ChunkTokens + $ChunkTokens), ' ')})) AS u
       |  FROM (SELECT doc_id, coalesce(toks, []) AS ctoks FROM docs)),
       |chunks AS (
       |  SELECT doc_id, CAST(u.i AS INT) AS idx, ${TextOps.h60Sql("u.c")} AS h,
       |         len(string_split(u.c, ' ')) AS n_toks
       |  FROM chunks0),
       |fd AS (SELECT h, MIN(doc_id) AS kd FROM chunks GROUP BY 1),
       |kp AS (SELECT c.h, MIN(c.idx) AS ki, MIN(fd.kd) AS kd
       |       FROM chunks c JOIN fd ON c.h = fd.h AND c.doc_id = fd.kd
       |       GROUP BY 1)
       |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |       CAST(SUM(CASE WHEN c.doc_id = kp.kd AND c.idx = kp.ki THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(SUM(CASE WHEN c.doc_id = kp.kd AND c.idx = kp.ki THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM chunks c JOIN kp ON c.h = kp.h
       |GROUP BY 1""".stripMargin

  /** Pattern scan (the PII / markup census a quality pipeline runs):
    * per-doc counts of email-ish, URL-ish and digit-run matches — all
    * map-side regexp counting. */
  val patternScan: Q = (s, dir) =>
    table(s, dir, "documents").select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t.rlike("^[A-Za-z0-9.]+@[A-Za-z0-9.]+$"))).as("n_email"),
      size(filter(split(col("text"), " "), t => t.rlike("^https?://"))).as("n_url"),
      size(filter(split(col("text"), " "), t => t.rlike("^[0-9]{4,}$"))).as("n_digit_runs"))

  val patternScanSql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[A-Za-z0-9.]+@[A-Za-z0-9.]+$'))) AS INT) AS n_email,
      |  CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^https?://'))) AS INT) AS n_url,
      |  CAST(len(list_filter(string_split(text, ' '), t -> regexp_matches(t, '^[0-9]{4,}$'))) AS INT) AS n_digit_runs
      |FROM documents""".stripMargin

  /** Inverted-index build (term → document frequency + capped postings
    * list): the retrieval-side artifact a corpus pipeline publishes next
    * to the corpus itself. ONE term-keyed Exchange — the ranking window
    * and the aggregation share the same hash partitioning — and the
    * postings list is capped to the 10 smallest doc_ids inside that
    * pass, so no per-term state grows with corpus size (df stays a
    * counter; a hot term's postings stop at the cap). */
  val invertedIndex: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(transform(
          sort_array(collect_list(when(col("rn") <= 10, col("doc_id")))),
          x => x.cast("string")), ",").as("postings"))
  }

  val invertedIndexSql: String =
    s"""WITH $docsCte,
       |t AS (SELECT DISTINCT doc_id, u.term FROM docs, unnest(toks) u(term)),
       |r AS (SELECT term, doc_id,
       |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
       |      FROM t)
       |SELECT term, COUNT(*) AS df,
       |       array_to_string(list_transform(
       |         list_sort(list(doc_id) FILTER (WHERE rn <= 10)),
       |         x -> CAST(x AS VARCHAR)), ',') AS postings
       |FROM r GROUP BY 1""".stripMargin

  /** Bigram collocation mining (the lift = exp(PMI) table a corpus
    * analyst derives before building phrase vocabularies): adjacent-pair
    * counts against unigram expectations. Every count is an exact
    * integer off a token-keyed aggregation whose key space is the
    * vocabulary, not the corpus; lift is ONE fixed-order chain of double
    * multiplies/divides over those integers, so it is bit-deterministic
    * in any engine that does not reassociate floats. The unigram side
    * joins twice (head word, tail word); AQE broadcasts it when it
    * fits and shuffle-joins when a vocabulary outgrows the executor. */
  val collocations: Q = (s, dir) => {
    val t = docs(s, dir)
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val big = t.where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val totals = broadcast(
      uni.agg(sum(col("c")).cast("long").as("n_tok"))
        .crossJoin(big.agg(sum(col("n_ab")).cast("long").as("n_big"))))
    // no broadcast hint on the vocabulary joins: AQE broadcasts them
    // when they fit and falls back to a shuffle join when a corpus's
    // vocabulary outgrows the executor — a forced hint would turn that
    // case into a driver OOM instead
    big.where(col("n_ab") >= 20)
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(totals)
      .select(col("a"), col("b"), col("n_ab"), col("c_a"), col("c_b"),
        (col("n_ab").cast("double") * col("n_tok").cast("double")
          * col("n_tok").cast("double") / col("n_big").cast("double")
          / col("c_a").cast("double") / col("c_b").cast("double")).as("lift"))
  }

  val collocationsSql: String =
    s"""WITH $docsCte,
       |uni AS (SELECT u.w, COUNT(*) AS c FROM docs, unnest(toks) u(w) GROUP BY 1),
       |big AS (SELECT toks[CAST(r.i AS INT)] AS a, toks[CAST(r.i AS INT) + 1] AS b
       |        FROM docs, unnest(range(1, len(toks))) r(i)),
       |bg AS (SELECT a, b, COUNT(*) AS n_ab FROM big GROUP BY 1, 2),
       |tot AS (SELECT CAST((SELECT SUM(c) FROM uni) AS BIGINT) AS n_tok,
       |               CAST((SELECT SUM(n_ab) FROM bg) AS BIGINT) AS n_big)
       |SELECT bg.a, bg.b, bg.n_ab, ua.c AS c_a, ub.c AS c_b,
       |       CAST(bg.n_ab AS DOUBLE) * CAST(n_tok AS DOUBLE)
       |         * CAST(n_tok AS DOUBLE) / CAST(n_big AS DOUBLE)
       |         / CAST(ua.c AS DOUBLE) / CAST(ub.c AS DOUBLE) AS lift
       |FROM bg JOIN uni ua ON bg.a = ua.w JOIN uni ub ON bg.b = ub.w, tot
       |WHERE bg.n_ab >= 20""".stripMargin

  /** Held-out next-token prediction accuracy of a count-based bigram
    * LM — the EVALUATION loop t_lm_score's in-corpus scorer lacks:
    * train on 4 of 5 hash-derived doc buckets, greedily predict the
    * most-frequent continuation per prefix (tie → lexicographically
    * smallest, the deterministic argmax), measure on the held-out
    * bucket. Entirely integer counts + one final division — no ln
    * anywhere, so the gate is bitwise with no quantization dodge.
    * Unseen prefixes count as uncovered AND incorrect (the honest
    * deployment accounting). Scale shape: the model argmax windows
    * over the VOCABULARY-bounded bigram table, never the corpus; the
    * test side joins the model by prefix (AQE broadcasts a small
    * vocabulary) and reduces to one row. */
  val nextToken: Q = (s, dir) => {
    val t = docs(s, dir)
      .withColumn("bucket", TextOps.hashBucket(col("doc_id"), 5).cast("int"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.where(size(col("toks")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("a"),
          element_at(col("toks"), i + 1).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val counts = pairs(t.where(col("bucket") < 4))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("n").desc, col("b"))
    val model = counts.withColumn("r", row_number().over(w)).where(col("r") === 1)
      .select(col("a"), col("b").as("pred"))
    pairs(t.where(col("bucket") === 4))
      .join(model, Seq("a"), "left")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("pred").isNotNull, 1L).otherwise(0L)).as("n_covered"),
        sum(when(col("pred") === col("b"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n_pairs"), col("n_covered"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_pairs").cast("double")).as("acc"))
  }

  val nextTokenSql: String =
    s"""WITH $docsCte,
       |tb AS (SELECT doc_id, toks,
       |              CAST(${TextOps.hashBucketSql("doc_id", 5)} AS INT) AS bucket
       |       FROM docs),
       |train AS (SELECT toks[CAST(r.i AS INT)] AS a, toks[CAST(r.i AS INT) + 1] AS b
       |          FROM tb, unnest(range(1, len(toks))) r(i) WHERE bucket < 4),
       |test AS (SELECT toks[CAST(r.i AS INT)] AS a, toks[CAST(r.i AS INT) + 1] AS b
       |         FROM tb, unnest(range(1, len(toks))) r(i) WHERE bucket = 4),
       |bg AS (SELECT a, b, COUNT(*) AS n FROM train GROUP BY 1, 2),
       |model AS (SELECT a, b AS pred FROM
       |            (SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a
       |               ORDER BY n DESC, b) AS r FROM bg) WHERE r = 1),
       |m AS (SELECT COUNT(*) AS n_pairs,
       |        CAST(SUM(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |        CAST(SUM(CASE WHEN pred = b THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
       |      FROM test LEFT JOIN model USING (a))
       |SELECT n_pairs, n_covered, n_correct,
       |       CAST(n_correct AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS acc
       |FROM m""".stripMargin

  /** Deterministic weighted sampling (domain mixing): the 5 best
    * Efraimidis–Spirakis priorities per source, weight = document
    * length — the "sample heavier docs proportionally more, never
    * twice" step a pipeline runs when blending domains into a training
    * mix. The priority is a pure function of doc_id (no RNG state), so
    * the sample is reproducible across engines, reruns and cluster
    * sizes; see [[graft.ml.Sampling.priorityKey]]. The ranking window
    * is PARTITIONED by source — every stratum is its own task, nothing
    * single-partitions, and at 100 TB a stratum outgrowing a task is
    * the [[graft.ops.Ranking]] regime (same note as a_topk_per_group). */
  val weightedSample: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("p").desc, col("doc_id"))
    table(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"),
        graft.ml.Sampling.priorityKey(col("doc_id"), col("n_chars")).as("p"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .select(col("source"), col("doc_id"), col("n_chars"), col("rnk"))
  }

  val weightedSampleSql: String =
    s"""WITH s AS (SELECT source, doc_id, n_chars,
       |  ${graft.ml.Sampling.priorityKeySql("doc_id", "n_chars")} AS p
       |FROM documents)
       |SELECT source, doc_id, n_chars, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT source, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY source ORDER BY p DESC, doc_id) AS rnk
       |  FROM s) WHERE rnk <= 5""".stripMargin

  /** Bigram language-model scoring (the KenLM-perplexity shape of
    * quality filtering): train conditional bigram probabilities on the
    * corpus itself (p(b|a) = c(a b) / c(a ·)), then score every
    * document by the sum of its bigram log-probabilities. Each
    * per-bigram ln lands in a DECIMAL(18,6) BEFORE the per-doc sum, so
    * the aggregation is order-free; the ln itself is the bit-portable
    * integer form (ln(n_ab/n_a) = lnI(n_ab) − lnI(n_a),
    * [[TextOps.lnIntInlineSql]]) computed on the vocab-bounded BIGRAM
    * TYPE table, not per occurrence — engine ln at a 1e-6 grid cliff
    * is the round-6 t_psi failure class, and lp is a function of the
    * type, so the corpus-sized side only joins and sums. Docs with
    * fewer than 2 tokens keep a defined score of 0.0 via the outer
    * join — the short-doc rule t_repetition adopted from round-5
    * ADVICE. Scale shape: both model aggregations key on
    * vocabulary-bounded spaces (bigram, context word), not the corpus;
    * the model joins back occurrence-side with AQE free to broadcast
    * when it fits; then ONE doc-keyed aggregation. */
  val lmScore: Q = (s, dir) => {
    val big = docs(s, dir).where(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + 1).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
    val bg = big.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val ctx = big.groupBy(col("a")).agg(count(lit(1)).as("n_a"))
    // column-staged portable ln (same IEEE op tree as the inline form,
    // ~50x less codegen text — the b89cfe9 playbook: the 10 KB inline
    // expansion showed up as whole-plan codegen compile time in the
    // driver's cold single-shot sweep)
    val lpTab = psLnStage(bg.join(ctx, Seq("a")),
        Seq("n_ab" -> "ab", "n_a" -> "na"))
      .select(col("a"), col("b"),
        (col("ln_ab_raw") - col("ln_na_raw")).cast("decimal(18,6)").as("lp"))
    val scored = big.join(lpTab, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_big"), sum(col("lp")).cast("double").as("sum_lp"))
    table(s, dir, "documents").select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("sum_lp"), lit(0.0)).as("sum_lp"))
  }

  val lmScoreSql: String =
    s"""WITH $docsCte,
       |big AS (SELECT doc_id, toks[CAST(r.i AS INT)] AS a,
       |               toks[CAST(r.i AS INT) + 1] AS b
       |        FROM docs, unnest(range(1, len(toks))) r(i)),
       |bg AS (SELECT a, b, COUNT(*) AS n_ab FROM big GROUP BY 1, 2),
       |ctx AS (SELECT a, COUNT(*) AS n_a FROM big GROUP BY 1),
       |lp AS (SELECT bg.a, bg.b,
       |         CAST((${TextOps.lnIntInlineSql("n_ab", spark = false)}
       |               - ${TextOps.lnIntInlineSql("n_a", spark = false)})
       |              AS DECIMAL(18,6)) AS lp
       |       FROM bg JOIN ctx USING (a)),
       |sc AS (SELECT big.doc_id, COUNT(*) AS n_big,
       |         CAST(SUM(l.lp) AS DOUBLE) AS sum_lp
       |       FROM big JOIN lp l USING (a, b)
       |       GROUP BY 1)
       |SELECT d.doc_id, COALESCE(sc.n_big, 0) AS n_big,
       |       COALESCE(sc.sum_lp, 0.0) AS sum_lp
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin

  /** Sequence packing (the concatenate-then-split layout of packed
    * pretraining batches): documents are routed to one of 8 pack
    * streams by the shared hash-bucket primitive, concatenated in
    * doc_id order inside each stream, and cut every 256 tokens —
    * `offset` is the token position where the doc starts in its
    * stream, `seq_id` the packed sequence that position falls in.
    * Pure integer arithmetic (cumulative window per bucket), so the
    * gate is exact. Scale shape: one Exchange on the bucket key; the
    * per-bucket running sum is a sort within each stream, and the
    * stream COUNT is the scale knob — more data, more buckets, same
    * per-task sort. */
  val seqPack: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        TextOps.hashBucket(col("doc_id"), 8).as("bucket"))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", floor(col("offset") / 256))
  }

  val seqPackSql: String =
    s"""WITH $docsCte,
       |d AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       |             ${TextOps.hashBucketSql("doc_id", 8)} AS bucket
       |      FROM docs)
       |SELECT doc_id, n_tokens, bucket,
       |       CAST(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
       |            - n_tokens AS BIGINT) AS "offset",
       |       CAST((SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
       |            - n_tokens) // 256 AS BIGINT) AS seq_id
       |FROM d""".stripMargin

  /** TextRank keyword ranking (Mihalcea & Tarau, EMNLP 2004): PageRank
    * over the adjacent-word co-occurrence graph — the graph-centrality
    * twin of t_tfidf's frequency ranking, and the suite's second graph
    * operator next to connected components. Three power iterations
    * with [[TextOps.pageRank]]'s order-free float discipline; the
    * oracle UNROLLS the same three iterations as chained CTEs, so the
    * fixed iteration count is what makes the query oracle-checkable. */
  val textrank: Q = (s, dir) =>
    TextOps.pageRank(
      docs(s, dir).where(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + 1).as("b")))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b")),
      iters = 3)

  val textrankSql: String = {
    val iters = (1 to 3).map { k =>
      s"""c$k AS (SELECT e.y AS w,
         |  CAST(SUM(CAST(rr.r / CAST(d.deg AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS in_r
         |  FROM e JOIN r${k - 1} rr ON e.x = rr.w JOIN deg d ON e.x = d.x GROUP BY 1),
         |r$k AS (SELECT w, CAST(0.15 AS DOUBLE) / n_nodes
         |  + CAST(0.85 AS DOUBLE) * in_r AS r FROM c$k, nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH $docsCte,
       |pr AS (SELECT toks[CAST(i.i AS INT)] AS a, toks[CAST(i.i AS INT) + 1] AS b
       |       FROM docs, unnest(range(1, len(toks))) i(i)),
       |e AS (SELECT DISTINCT x, y
       |      FROM (SELECT a AS x, b AS y FROM pr UNION ALL SELECT b, a FROM pr)),
       |deg AS (SELECT x, COUNT(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM deg),
       |r0 AS (SELECT x AS w, CAST(1.0 AS DOUBLE) / n_nodes AS r FROM deg, nn),
       |$iters
       |SELECT w, r FROM r3""".stripMargin
  }

  /** PII-style redaction: mask a term denylist (the fixture corpus's
    * stand-in for emails/phone numbers), keeping the audit count — the
    * scrub stage a compliance pipeline runs before training. Pure
    * map-side transform, zero Exchange; the gate hashes the redacted
    * text itself, so both engines must agree on every replaced byte.
    * \b and alternation behave identically in Java regex and RE2;
    * DuckDB's regexp_replace needs the 'g' flag to match Java's
    * replace-all semantics. */
  val redact: Q = (s, dir) => {
    val pat = "\\b(customer|supplier|part)\\b"
    val red = regexp_replace(col("text"), pat, "[PII]")
    table(s, dir, "documents").select(col("doc_id"),
      regexp_count(col("text"), lit(pat)).as("n_masked"),
      md5(red.cast("binary")).as("redacted_md5"),
      length(red).as("n_chars_redacted"))
  }

  val redactSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\b(customer|supplier|part)\b')) AS INT) AS n_masked,
      |  md5(regexp_replace(text, '\b(customer|supplier|part)\b', '[PII]', 'g')) AS redacted_md5,
      |  CAST(length(regexp_replace(text, '\b(customer|supplier|part)\b', '[PII]', 'g')) AS INT) AS n_chars_redacted
      |FROM documents""".stripMargin

  /** Per-source token-distribution Shannon entropy — the diversity
    * census of a corpus slice (low entropy = templated/boilerplate
    * source, a primary quality signal next to t_repetition). Uses
    * H = ln N − (Σ c·ln c)/N so the only aggregation over floats is
    * Σ c·ln c, where each ln c is quantized to DECIMAL(18,6) BEFORE
    * the bigint-weighted, order-free DECIMAL sum (the lmScore
    * discipline); ln N is likewise quantized so the final three-op
    * scalar chain is identical in both engines. Both lns are the
    * bit-portable integer form ([[TextOps.lnIntInlineSql]]) — engine
    * ln at a DECIMAL(18,6) cliff is the exact class that failed t_psi
    * at the round-6 driver; counts are integers so no decomposition is
    * even needed. Scale shape: one (source, token) aggregation, then a
    * source-keyed rollup (both vocab-bounded). */
  val entropy: Q = (s, dir) => {
    val toks = table(s, dir, "documents")
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
    val c = psLnStage(
      toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c")),
      Seq("c" -> "c"))
    val g = psLnStage(
      c.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(col("c") * col("ln_c_raw").cast("decimal(18,6)")).as("slc")),
      Seq("n_tokens" -> "nt"))
    g.select(col("source"), col("n_tokens"), col("n_types"),
      (col("ln_nt_raw").cast("decimal(18,6)").cast("double")
        - col("slc").cast("double") / col("n_tokens").cast("double")).as("entropy"))
  }

  val entropySql: String =
    s"""WITH tk AS (
       |  SELECT source, u.tok
       |  FROM documents,
       |       unnest(list_filter(string_split(text, ' '), t -> t <> '')) u(tok)),
       |c AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY 1, 2),
       |g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |             COUNT(*) AS n_types,
       |             SUM(c * CAST(${TextOps.lnIntInlineSql("c", spark = false)} AS DECIMAL(18,6))) AS slc
       |      FROM c GROUP BY 1)
       |SELECT source, n_tokens, n_types,
       |       CAST(CAST(${TextOps.lnIntInlineSql("n_tokens", spark = false)} AS DECIMAL(18,6)) AS DOUBLE)
       |         - CAST(slc AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS entropy
       |FROM g""".stripMargin

  /** Population stability index between the corpus's first and second
    * source cohorts over fixed n_chars bins — the drift metric run
    * between two snapshots of a feed before retraining on it. Counts
    * are add-one smoothed (so empty bins stay defined), each bin's
    * (p_a − p_b)·ln(p_a/p_b) is a fixed-order scalar chain quantized
    * with FLOOR(term·1e6) into a BIGINT before the cross-bin sums
    * (per-row psi_term and the orderless window total) — FLOOR of a
    * double agrees bit-for-bit across engines where double→DECIMAL
    * casts have build-dependent rounding (the dsum lesson). One
    * conditional aggregation over the bin key; group sizes ride an
    * orderless window sum.
    *
    * Bit-portability: engine-native ln broke the round-6 driver hash
    * (two DuckDB builds disagree in the last ulp at a quantization
    * cliff), so ln(p_a/p_b) is decomposed over the exact-integer
    * smoothed counts — ln(ca+1) + ln(nb+10) − ln(cb+1) − ln(na+10) —
    * with each ln rebuilt by [[TextOps.lnIntFromStagedSql]]'s
    * libm-free op tree, evaluated identically by Spark and the
    * oracle. */
  val psi: Q = (s, dir) => {
    val grp = when(substring(col("source"), 4, 10).cast("int") < 10, lit("a"))
      .otherwise(lit("b"))
    val g = table(s, dir, "documents")
      .select(least(expr("n_chars div 50"), lit(9L)).cast("int").as("bin"), grp.as("grp"))
      .groupBy(col("bin"))
      .agg(sum(when(col("grp") === "a", 1L).otherwise(0L)).as("ca"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).as("cb"))
    val w = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wa = g.withColumn("na", sum(col("ca")).over(w))
      .withColumn("nb", sum(col("cb")).over(w))
    val pa = (col("ca") + 1).cast("double") / (col("na") + 10).cast("double")
    val pb = (col("cb") + 1).cast("double") / (col("nb") + 10).cast("double")
    val ld = psiLnArgs.zipWithIndex.foldLeft(wa) { case (df, (v, ix)) =>
      val i = ix + 1
      val (msb, m) = TextOps.lnIntPartsSql(v, spark = true)
      df.withColumn(s"e$i", expr(msb))
        .withColumn(s"m$i", expr(m))
        .withColumn(s"z$i", expr(s"(m$i - 1.0) / (m$i + 1.0)"))
        .withColumn(s"l$i", expr(TextOps.lnIntFromStagedSql(s"e$i", s"z$i")))
    }
    ld.withColumn("tq",
        floor(((pa - pb) * expr("((l1 + l2) - l3) - l4")) * lit(1000000.0)))
      .select(col("bin"), col("ca").as("n_a"), col("cb").as("n_b"),
        (col("tq").cast("double") / lit(1000000.0)).as("psi_term"),
        (sum(col("tq")).over(w).cast("double") / lit(1000000.0)).as("psi"))
  }

  /** Smoothed-count ln arguments, Spark column expressions (the oracle
    * wraps each in a BIGINT cast — DuckDB SUMs to HUGEINT). */
  private val psiLnArgs = Seq("ca + 1", "nb + 10", "cb + 1", "na + 10")

  /** Stage portable-ln columns on a DataFrame: for each (vExpr, tag)
    * adds e/m/z intermediates and `ln_<tag>_raw` (double) — the cheap
    * column-staged form of [[TextOps.lnIntInlineSql]] for plans where
    * the 10 KB inline expansion shows up in codegen time. */
  private def psLnStage(df0: DataFrame, vs: Seq[(String, String)]): DataFrame =
    vs.foldLeft(df0) { case (df, (v, tag)) =>
      val (msb, m) = TextOps.lnIntPartsSql(v, spark = true)
      df.withColumn(s"e_$tag", expr(msb))
        .withColumn(s"m_$tag", expr(m))
        .withColumn(s"z_$tag", expr(s"(m_$tag - 1.0) / (m_$tag + 1.0)"))
        .withColumn(s"ln_${tag}_raw",
          expr(TextOps.lnIntFromStagedSql(s"e_$tag", s"z_$tag")))
    }

  val psiSql: String = {
    val staged = psiLnArgs.zipWithIndex.map { case (v, ix) =>
      val i = ix + 1
      val (msb, m) = TextOps.lnIntPartsSql(s"CAST($v AS BIGINT)", spark = false)
      (s"$msb AS e$i, $m AS m$i",
        s"(m$i - 1.0) / (m$i + 1.0) AS z$i",
        s"${TextOps.lnIntFromStagedSql(s"e$i", s"z$i")} AS l$i")
    }
    s"""WITH g AS (
      |  SELECT CAST(LEAST(n_chars // 50, 9) AS INT) AS bin,
      |         SUM(CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 10 THEN 1 ELSE 0 END) AS ca,
      |         SUM(CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 10 THEN 0 ELSE 1 END) AS cb
      |  FROM documents GROUP BY 1),
      |w AS (
      |  SELECT bin, ca, cb, SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb FROM g),
      |v AS (
      |  SELECT bin, ca, cb,
      |         CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE) AS pa,
      |         CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS pb,
      |         ${staged.map(_._1).mkString(",\n         ")}
      |  FROM w),
      |z AS (
      |  SELECT *, ${staged.map(_._2).mkString(",\n         ")}
      |  FROM v),
      |l AS (
      |  SELECT *, ${staged.map(_._3).mkString(",\n         ")}
      |  FROM z),
      |t AS (
      |  SELECT bin, ca, cb,
      |         CAST(FLOOR(((pa - pb) * (((l1 + l2) - l3) - l4)) * 1000000.0) AS BIGINT) AS tq
      |  FROM l)
      |SELECT bin, CAST(ca AS BIGINT) AS n_a, CAST(cb AS BIGINT) AS n_b,
      |       CAST(tq AS DOUBLE) / 1000000.0 AS psi_term,
      |       CAST(CAST(SUM(tq) OVER () AS BIGINT) AS DOUBLE) / 1000000.0 AS psi
      |FROM t""".stripMargin
  }

  // -------------------------------------------------------------------
  // Graph analytics over the near-dup candidate graph
  // -------------------------------------------------------------------

  /** PageRank centrality of the near-dup candidate graph — the "hub"
    * census of a dedup run: a document with high rank sits at the
    * center of a dense near-dup neighborhood (boilerplate templates,
    * mirrored pages), exactly the docs a curation pass inspects first.
    * Reuses [[TextOps.pageRank]] (TextRank's engine) on the DOC graph
    * instead of the token graph: 3 fixed power iterations, damping
    * 0.85, per-edge contributions quantized to DECIMAL(28,12) before
    * the order-free sum, so the oracle UNROLLS the same arithmetic.
    * Scale shape: per iteration one node-keyed join + one aggregation;
    * rank-table size is O(nodes), the corpus never re-enters the loop. */
  val docPagerank: Q = (s, dir) =>
    TextOps.pageRank(minhashLshStaged(s, dir).select(col("a"), col("b")), iters = 3)
      .select(col("w").as("doc_id"), col("r").as("rank_score"))

  val docPagerankSql: String = {
    val iters = (1 to 3).map { k =>
      s"""c$k AS (SELECT e.y AS w,
         |  CAST(SUM(CAST(rr.r / CAST(d.deg AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS in_r
         |  FROM e JOIN r${k - 1} rr ON e.x = rr.w JOIN deg d ON e.x = d.x GROUP BY 1),
         |r$k AS (SELECT w, CAST(0.15 AS DOUBLE) / n_nodes
         |  + CAST(0.85 AS DOUBLE) * in_r AS r FROM c$k, nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |e AS (SELECT DISTINCT x, y FROM
       |      (SELECT a AS x, b AS y FROM lsh UNION ALL SELECT b, a FROM lsh)),
       |deg AS (SELECT x, COUNT(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM deg),
       |r0 AS (SELECT x AS w, CAST(1.0 AS DOUBLE) / n_nodes AS r FROM deg, nn),
       |$iters
       |SELECT w AS doc_id, r AS rank_score FROM r3""".stripMargin
  }

  /** Multi-source BFS hop distance over the near-dup candidate graph —
    * "how far is every doc from the seed set", the reachability query
    * behind contamination spread analysis (seeds = known-bad docs; the
    * hop distance says how aggressively to widen a removal). Distances
    * are capped at [[BfsMaxHops]] so the oracle's recursive CTE has a
    * structural termination bound on this CYCLIC graph (contrast
    * a_hierarchy's acyclic forest). Spark side is FRONTIER-expanded:
    * each round joins only the newly discovered nodes against the edge
    * list (every node is expanded exactly once — the textbook
    * distributed BFS), state is eager-checkpointed per round via
    * [[graft.ops.Materialize.checkpointFresh]] so the analyzed plan
    * stays O(1) per round, and the loop exits early the round the
    * frontier empties. Unreachable-within-cap nodes are absent from
    * the output in both engines. */
  private val BfsMaxHops = 6

  /** Scale-adaptive ([[graft.ops.LocalGraph]]): at or under the size
    * gate the hops run as a driver-side BFS; hop values are identical by
    * construction (min-hop BFS both ways, same seed rule, same cap). */
  val bfsDist: Q = (s, dir) => {
    import graft.ops.{LocalGraph, Materialize}
    import graft.ops.Materialize.checkpointFresh
    val e = minhashLshStaged(s, dir).select(col("a"), col("b"))
    val eCk = checkpointFresh(e)
    LocalGraph.gate("bfsDist", eCk, 2) match {
      case Some(chunks) =>
        val g = LocalGraph.graph(chunks, 2)
        val adj = LocalGraph.undirected(g)
        val distA = Array.fill(g.nodes)(-1)
        var frontier = (0 until g.nodes).filter(i => g.ids(i) % 5 == 0)
        frontier.foreach(distA(_) = 0)
        var hop = 1
        while (hop <= BfsMaxHops && frontier.nonEmpty) {
          val next = scala.collection.mutable.ArrayBuffer[Int]()
          frontier.foreach { u =>
            var k = adj.off(u)
            while (k < adj.off(u + 1)) {
              val v = adj.nbr(k)
              if (distA(v) < 0) { distA(v) = hop; next += v }
              k += 1
            }
          }
          frontier = next.toIndexedSeq; hop += 1
        }
        LocalGraph.frame(s, (0 until g.nodes).filter(distA(_) >= 0)
          .map(i => Row(g.ids(i), distA(i))).toArray,
          Seq("doc_id" -> LongType, "dist" -> IntegerType))
      case None =>
        // the edge list is re-read every round: the eager checkpoint
        // above serves every hop
        val sym = eCk.unionByName(eCk.select(col("b").as("a"), col("a").as("b")))
        val seeds = sym.select(col("a").as("v")).distinct()
          .where(col("v") % 5 === 0).withColumn("d", lit(0))
        var dist = checkpointFresh(seeds)
        var frontier = checkpointFresh(dist)
        var hop = 1
        var frontierSize = frontier.count()
        while (hop <= BfsMaxHops && frontierSize > 0) {
          val cand = frontier.join(sym.select(col("a").as("v"), col("b")), Seq("v"))
            .select(col("b").as("v")).distinct()
            .join(dist, Seq("v"), "left_anti")
            .withColumn("d", lit(hop))
          val nf = checkpointFresh(cand)
          val nd = checkpointFresh(dist.unionByName(nf))
          frontierSize = nf.count()
          Materialize.free(dist, frontier)
          dist = nd; frontier = nf
          hop += 1
        }
        // the returned plan reads only the dist checkpoint — free the
        // edge-set blocks, the largest frame in the query, and the last
        // (empty) frontier
        Materialize.free(eCk, frontier)
        dist.select(col("v").as("doc_id"), col("d").cast("int").as("dist"))
    }
  }

  val bfsDistSql: String =
    s"""WITH RECURSIVE $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |sym AS (SELECT a, b FROM lsh UNION SELECT b, a FROM lsh),
       |walk(v, d) AS (
       |  SELECT DISTINCT a AS v, 0 AS d FROM sym WHERE a % 5 = 0
       |  UNION
       |  SELECT s.b, w.d + 1 FROM walk w JOIN sym s ON s.a = w.v
       |  WHERE w.d < $BfsMaxHops)
       |SELECT v AS doc_id, CAST(MIN(d) AS INT) AS dist
       |FROM walk GROUP BY v""".stripMargin

  /** Weighted single-source shortest path over the near-dup similarity
    * graph — t_bfs_dist's hop count upgraded to a DISSIMILARITY cost:
    * edge weight = 11 − ⌊10·Jaccard⌋ (integer floor division on the
    * exact inter/union counts, so weights are order-free integers in
    * [1,10] and path sums are exact). The Spark side is
    * frontier-driven Bellman-Ford: each round relaxes ONLY the nodes
    * improved last round (the textbook distributed SSSP — work per
    * round is proportional to the improving frontier, not the graph),
    * state eager-checkpointed via
    * [[graft.ops.Materialize.checkpointFresh]] so the analyzed plan
    * stays O(1) per round, loop exits the round no distance improves.
    * The oracle explores every below-cap walk with a recursive CTE and
    * takes MIN(d); [[SsspCap]] (far above the weighted diameter) gives
    * the CYCLIC recursion a structural bound, and both engines filter
    * to d < cap so the semantics stay aligned even at the boundary. */
  private val SsspCap = 100L

  /** Scale-adaptive like [[bfsDist]]. The local form is multi-source
    * Dijkstra with the identical d < SsspCap relaxation cap; with
    * strictly positive integer weights every prefix of a below-cap path
    * is itself below-cap, so capped Dijkstra and the capped frontier
    * Bellman-Ford reach the identical fixed point (min path cost per
    * reachable node, nodes at >= cap excluded). */
  val sssp: Q = (s, dir) => {
    import graft.ops.{LocalGraph, Materialize}
    import graft.ops.Materialize.checkpointFresh
    val pw = shinglePairsFront(s, dir).select(col("a"), col("b"),
      (lit(11L) - expr("(10L * inter) div (na + nb - inter)")).as("w"))
    val pwCk = checkpointFresh(pw)
    LocalGraph.gate("sssp", pwCk, 3) match {
      case Some(chunks) =>
        val g = LocalGraph.graph(chunks, 3, weighted = true)
        val adj = LocalGraph.undirected(g)
        val distA = Array.fill(g.nodes)(Long.MaxValue)
        val pq = new java.util.PriorityQueue[(Long, Int)](11,
          new java.util.Comparator[(Long, Int)] {
            def compare(x: (Long, Int), y: (Long, Int)): Int =
              java.lang.Long.compare(x._1, y._1)
          })
        var i = 0
        while (i < g.nodes) {
          if (g.ids(i) % 7 == 0) { distA(i) = 0L; pq.add((0L, i)) }
          i += 1
        }
        while (!pq.isEmpty) {
          val (d, u) = pq.poll()
          if (d == distA(u)) {
            var k = adj.off(u)
            while (k < adj.off(u + 1)) {
              val v = adj.nbr(k); val nd = d + adj.weight(k)
              if (nd < SsspCap && nd < distA(v)) { distA(v) = nd; pq.add((nd, v)) }
              k += 1
            }
          }
        }
        LocalGraph.frame(s, (0 until g.nodes).filter(distA(_) < SsspCap)
          .map(i => Row(g.ids(i), distA(i).toInt)).toArray,
          Seq("doc_id" -> LongType, "dist" -> IntegerType))
      case None =>
        val sym = pwCk.unionByName(pwCk.select(col("b").as("a"), col("a").as("b"), col("w")))
        val seeds = sym.select(col("a").as("v")).distinct()
          .where(col("v") % 7 === 0).withColumn("d", lit(0L))
        var dist = checkpointFresh(seeds)
        var front = checkpointFresh(seeds)
        var frontierSize = front.count()
        while (frontierSize > 0) {
          val relax = front.join(sym, col("v") === col("a"))
            .select(col("b").as("v"), (col("d") + col("w")).as("nd"))
            .where(col("nd") < SsspCap)
            .groupBy(col("v")).agg(min(col("nd")).as("nd"))
          val improved = relax
            .join(dist.withColumnRenamed("d", "d0"), Seq("v"), "left")
            .where(col("d0").isNull || col("nd") < col("d0"))
            .select(col("v"), col("nd").as("d"))
          val nf = checkpointFresh(improved)
          val nd = checkpointFresh(
            dist.unionByName(nf).groupBy(col("v")).agg(min(col("d")).as("d")))
          frontierSize = nf.count()
          Materialize.free(dist, front)
          dist = nd; front = nf
        }
        // free the weighted edge set and the last (empty) frontier — the
        // returned plan reads only dist
        Materialize.free(pwCk, front)
        dist.where(col("d") < SsspCap)
          .select(col("v").as("doc_id"), col("d").cast("int").as("dist"))
    }
  }

  val ssspSql: String =
    s"""WITH RECURSIVE $docsCte,
       |$shinglePairsCtes,
       |pw AS (SELECT p.a, p.b,
       |              11 - ((10 * p.inter) // (sa.n_sh + sb.n_sh - p.inter)) AS w
       |       FROM pairs p
       |       JOIN sizes sa ON sa.doc_id = p.a
       |       JOIN sizes sb ON sb.doc_id = p.b
       |       WHERE p.inter >= 2),
       |sym AS (SELECT a, b, w FROM pw UNION SELECT b, a, w FROM pw),
       |walk(v, d) AS (
       |  SELECT DISTINCT a AS v, CAST(0 AS BIGINT) AS d FROM sym WHERE a % 7 = 0
       |  UNION
       |  SELECT s.b, w.d + s.w FROM walk w JOIN sym s ON s.a = w.v
       |  WHERE w.d + s.w < $SsspCap)
       |SELECT v AS doc_id, CAST(MIN(d) AS INT) AS dist
       |FROM walk GROUP BY v""".stripMargin

  /** LSH recall census — the text-side safe-to-deploy check mirroring
    * s_ann_recall: of the ground-truth near-dup pairs (exact shingle
    * Jaccard ≥ 0.5, the t_ngram_jaccard computation), what fraction
    * did the MinHash-LSH banding surface as candidates? Output is one
    * row of exact integers plus one division, so the gate hash-checks
    * the recall arithmetic end to end across BOTH pipelines. Scale
    * shape: the truth side is the capped-posting-list exact pass (an
    * audit run over a sample at corpus scale), the candidate side the
    * production banding; the final overlap join ships only (a, b)
    * pairs. */
  val lshRecall: Q = (s, dir) => {
    val truth = shinglePairsFront(s, dir)
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .where(col("jaccard") >= 0.5)
      .select(col("a"), col("b"))
    val cand = minhashLshStaged(s, dir).select(col("a"), col("b"))
    val hits = truth.join(cand.withColumn("hit", lit(1L)), Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    hits.crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .select(col("n_truth"), col("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_truth") > 0,
          col("n_hit").cast("double") / col("n_truth").cast("double"))
          .otherwise(lit(1.0)).as("recall"))
  }

  val lshRecallSql: String =
    s"""WITH $docsCte,
       |$sigsCte,
       |$lshPairsCte,
       |jsh_all AS (
       |  SELECT DISTINCT doc_id, ${TextOps.h60Sql("g.shs")} AS sh
       |  FROM docs, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) g(shs)),
       |jhot AS (SELECT sh FROM jsh_all GROUP BY sh HAVING COUNT(*) > $MaxShingleDf),
       |jsh AS (SELECT * FROM jsh_all WHERE sh NOT IN (SELECT sh FROM jhot)),
       |jsizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM jsh GROUP BY 1),
       |jpairs AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
       |  FROM jsh x JOIN jsh y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT p.a, p.b FROM jpairs p
       |  JOIN jsizes sa ON sa.doc_id = p.a
       |  JOIN jsizes sb ON sb.doc_id = p.b
       |  WHERE p.inter >= 2
       |    AND CAST(p.inter AS DOUBLE) / (sa.n_sh + sb.n_sh - p.inter) >= 0.5),
       |h AS (
       |  SELECT COUNT(*) AS n_truth,
       |         SUM(CASE WHEN l.a IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |  FROM truth t LEFT JOIN lsh l ON t.a = l.a AND t.b = l.b),
       |nc AS (SELECT COUNT(*) AS n_cand FROM lsh)
       |SELECT CAST(n_truth AS BIGINT) AS n_truth,
       |       CAST(n_cand AS BIGINT) AS n_cand,
       |       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       |       CASE WHEN n_truth > 0
       |            THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
       |            ELSE 1.0 END AS recall
       |FROM h, nc""".stripMargin

  /** Winnowing fingerprints (the MOSS algorithm) — per doc, the set of
    * t-window minimum k-gram hashes: the ROBUST fingerprint contract
    * (two documents sharing any long-enough substring are GUARANTEED a
    * common fingerprint — t_fingerprint's modulo sampling has no such
    * guarantee), the standard tool for code-clone and contamination
    * tracing. Kernel emits each doc's sorted-distinct set map-side; the
    * oracle rebuilds the same window minima with list ops. Matching on
    * fingerprints then reuses the chunk-dedup shape (ONE hash groupBy). */
  val winnowFp: Q = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      explode(TextOps.winnow(col("toks"), 3, 4)).as("fp"))

  val winnowFpSql: String =
    s"""WITH $docsCte,
       |hs AS (
       |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
       |    i -> ${TextOps.h60Sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}) AS hs
       |  FROM docs WHERE len(toks) >= 6),
       |fp AS (
       |  SELECT DISTINCT doc_id, u.f
       |  FROM (SELECT doc_id, list_transform(range(1, len(hs) - 2),
       |          i -> list_aggregate(hs[i:i+3], 'min')) AS fps
       |        FROM hs), unnest(fps) u(f))
       |SELECT doc_id, f AS fp FROM fp""".stripMargin

  /** Multinomial Naive Bayes — TRAINED AND SCORED as one query: the
    * classic generative text classifier (predict a doc's source from
    * its tokens), completing the oracle-checked ML set (k-NN, centroid,
    * k-means step, OLS; SGD stays rows-only by nature). Add-one
    * smoothing makes every likelihood a RATIONAL of integer counts;
    * each ln lands on the DECIMAL(18,6) grid before the order-free sum
    * (the lmScore discipline), and the unseen-token mass folds into a
    * per-source constant — score(d,s) = Σ_{seen} ln(c_st+1) −
    * n_toks(d)·ln(N_s+V) + ln prior — so only SEEN (doc, token, source)
    * triples are ever joined. Scale shape: one token-keyed train
    * aggregation, one token-keyed test join, a (doc, source) rollup,
    * and a broadcast constants table; argmax by exact DECIMAL compare,
    * ties to the lexicographically smallest source. Split: the shared
    * hash-bucket primitive (train b≠9, test b=9). The fixture corpus's
    * sources are near-chance-predictable (uniform synthetic text), so
    * the gate pins the TRAIN+SCORE arithmetic end to end, not model
    * accuracy — same contract as the other ML gates. */
  /** NB model as two static frames: per-(source, token) quantized
    * log-likelihoods and per-source constants. Input needs (source,
    * toks). Exposed so the streaming scorer joins the SAME model. */
  def nbModel(train: DataFrame): (DataFrame, DataFrame) = {
    val trainToks = train.select(col("source"), explode(col("toks")).as("tok"))
    val cst = trainToks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val ns = trainToks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val vocab = trainToks.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    val ndc = train.groupBy(col("source")).agg(count(lit(1)).as("n_docs_s"))
    val ndt = train.agg(count(lit(1)).as("n_docs"))
    // portable integer ln everywhere (lnI(n_s+V); lnI(n_docs_s) −
    // lnI(n_docs); lnI(c+1)) — all on source/vocab-bounded tables.
    // STAGED columns (the t_psi shape), not the inline form: three
    // inline expansions made the generated code ~30 KB and doubled the
    // gate's plan+codegen cost
    val consts = psLnStage(
      ns.join(ndc, Seq("source")).crossJoin(broadcast(vocab))
        .crossJoin(broadcast(ndt)),
      Seq("(n_s + v)" -> "nv", "n_docs_s" -> "ds", "n_docs" -> "dt"))
      .select(col("source"),
        col("ln_nv_raw").cast("decimal(18,6)").as("ln_nv"),
        (col("ln_ds_raw") - col("ln_dt_raw")).cast("decimal(18,6)").as("ln_prior"))
    val lnc = psLnStage(cst, Seq("(c + 1)" -> "c1"))
      .select(col("source"), col("tok"),
        col("ln_c1_raw").cast("decimal(18,6)").as("ln_c"))
    (consts, lnc)
  }

  /** Score (doc_id, toks) rows against an [[nbModel]] → (doc_id, pred).
    * Stream-safe: a token-keyed stream-STATIC join against the model,
    * one (doc_id, source) rollup, exact-DECIMAL argmax — the
    * model-serving shape (see StreamingNbSpec). */
  def nbScore(docsDf: DataFrame, consts: DataFrame, lnc: DataFrame): DataFrame = {
    val seen = docsDf.select(col("doc_id"), explode(col("toks")).as("tok"))
      .join(lnc, Seq("tok"))
      .groupBy(col("doc_id"), col("source")).agg(sum(col("ln_c")).as("s_seen"))
    // explicit crossJoin of the broadcast model constants (numClasses
    // rows) — the declared-Cross BNLJ shape the plan audit allows; the
    // streaming twin scores per micro-batch (foreachBatch), so batch
    // join support is all it needs
    docsDf.select(col("doc_id"), size(col("toks")).as("n_toks"))
      .crossJoin(broadcast(consts))
      .join(seen, Seq("doc_id", "source"), "left")
      .select(col("doc_id"), col("source"),
        (coalesce(col("s_seen"), lit(0).cast("decimal(28,6)"))
          - col("n_toks") * col("ln_nv") + col("ln_prior")).as("score"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("neg"), col("source").as("src"))).as("top"))
      .select(col("doc_id"), col("top.src").as("pred"))
  }

  val naiveBayes: Q = (s, dir) => {
    val dd = table(s, dir, "documents").select(col("doc_id"), col("source"),
      TextOps.tokens(col("text")).as("toks"),
      TextOps.hashBucket(col("doc_id"), 10).as("b"))
    val (consts, lnc) = nbModel(dd.where(col("b") =!= 9).select(col("source"), col("toks")))
    val te = dd.where(col("b") === 9)
      .select(col("doc_id"), col("source").as("label"), col("toks"))
    nbScore(te.select(col("doc_id"), col("toks")), consts, lnc)
      .join(te.select(col("doc_id"), col("label")), Seq("doc_id"))
      .groupBy(col("label"), col("pred")).agg(count(lit(1)).as("n"))
  }

  val naiveBayesSql: String =
    s"""WITH dd AS (
       |  SELECT doc_id, source,
       |         list_filter(string_split(text, ' '), t -> t <> '') AS toks,
       |         ${TextOps.hashBucketSql("doc_id", 10)} AS b
       |  FROM documents),
       |tr AS (SELECT source, u.tok FROM dd, unnest(toks) u(tok) WHERE b <> 9),
       |cst AS (SELECT source, tok, COUNT(*) AS c FROM tr GROUP BY 1, 2),
       |ns AS (SELECT source, COUNT(*) AS n_s FROM tr GROUP BY 1),
       |vb AS (SELECT COUNT(DISTINCT tok) AS v FROM tr),
       |ndc AS (SELECT source, COUNT(*) AS n_docs_s FROM dd WHERE b <> 9 GROUP BY 1),
       |ndt AS (SELECT COUNT(*) AS n_docs FROM dd WHERE b <> 9),
       |consts AS (
       |  SELECT ns.source,
       |         CAST(${TextOps.lnIntInlineSql("(ns.n_s + vb.v)", spark = false)}
       |              AS DECIMAL(18,6)) AS ln_nv,
       |         CAST((${TextOps.lnIntInlineSql("ndc.n_docs_s", spark = false)}
       |               - ${TextOps.lnIntInlineSql("ndt.n_docs", spark = false)})
       |              AS DECIMAL(18,6)) AS ln_prior
       |  FROM ns JOIN ndc USING (source), vb, ndt),
       |lnc AS (SELECT source, tok,
       |          CAST(${TextOps.lnIntInlineSql("(c + 1)", spark = false)}
       |               AS DECIMAL(18,6)) AS ln_c
       |        FROM cst),
       |te AS (SELECT doc_id, source AS label, toks FROM dd WHERE b = 9),
       |seen AS (
       |  SELECT t.doc_id, l.source, SUM(l.ln_c) AS s_seen
       |  FROM (SELECT doc_id, u.tok FROM te, unnest(toks) u(tok)) t
       |  JOIN lnc l USING (tok) GROUP BY 1, 2),
       |grid AS (
       |  SELECT te.doc_id, te.label, c.source,
       |         COALESCE(s.s_seen, 0) - len(te.toks) * c.ln_nv + c.ln_prior AS score
       |  FROM te CROSS JOIN consts c
       |  LEFT JOIN seen s ON s.doc_id = te.doc_id AND s.source = c.source),
       |best AS (
       |  SELECT doc_id, label, source,
       |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, source) AS rn
       |  FROM grid)
       |SELECT label, source AS pred, COUNT(*) AS n
       |FROM best WHERE rn = 1 GROUP BY 1, 2""".stripMargin

  /** Unicode ingest clean: NFC-normalize → strip control chars →
    * collapse whitespace runs → trim. The fixture corpus is pure ASCII
    * (already NFC), so the gate first INJECTS decomposed sequences
    * deterministically on BOTH sides — every 'a' gains a combining
    * acute (U+0301) plus a TAB, every ". " doubles its space — and the
    * oracle then exercises DuckDB's independent utf8proc NFC against
    * our [[graft.functions.NfcNormalize]] codegen'd kernel
    * (java.text.Normalizer). A hash match is a cross-implementation
    * proof of the normalizer, not an identity pass. Zero-shuffle
    * scan+project; lengths are counted AFTER NFC so both engines count
    * the same single composed code point per accent. */
  val unicodeClean: Q = (s, dir) => {
    val injected = regexp_replace(
      org.apache.spark.sql.functions.replace(col("text"), lit("a"), lit("a\u0301\t")),
      "\\. ", ".  ")
    val cleaned = TextOps.cleanText(injected)
    table(s, dir, "documents")
      .select(col("doc_id"), cleaned.as("clean"))
      .select(col("doc_id"), col("clean"), length(col("clean")).as("n_chars"))
  }

  val unicodeCleanSql: String =
    """WITH deco AS (
      |  SELECT doc_id,
      |         regexp_replace(replace(text, 'a', 'a' || chr(769) || chr(9)),
      |                        '\. ', '.  ', 'g') AS t
      |  FROM documents),
      |norm AS (
      |  SELECT doc_id,
      |         trim(regexp_replace(
      |                regexp_replace(nfc_normalize(t), '[\x00-\x1f\x7f]', '', 'g'),
      |                '[ \t\n\r]+', ' ', 'g')) AS clean
      |  FROM deco)
      |SELECT doc_id, clean, CAST(length(clean) AS INT) AS n_chars FROM norm""".stripMargin

  /** Dedup with RECONSTRUCTION — the pipeline stage the census gates
    * (t_chunk_dedup, t_substring_dedup) stop short of: every 16-token
    * block keeps only its globally FIRST occurrence (min (doc_id, idx)
    * over the block hash — deterministic survivorship), and each doc's
    * clean_text is rebuilt from its surviving blocks in order. This is
    * Lee et al. 2022's "remove the duplicated span, keep one copy"
    * applied at block granularity. Scale shape: ONE groupBy on the
    * 8-byte block hash picks survivors (min-struct aggregation, no
    * global window), one join back, one per-doc rebuild groupBy; docs
    * whose every block is elsewhere-first collapse to empty but stay
    * in the output (left join from the corpus). */
  val dedupRewrite: Q = (s, dir) => {
    val ch = docs(s, dir).select(col("doc_id"),
        posexplode(TextOps.chunkTexts(col("toks"), ChunkTokens)).as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("idx"), col("chunk"), TextOps.h60(col("chunk")).as("h"))
    val firsts = ch.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    val kept = ch.join(firsts, Seq("h"))
      .where(col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("idx"), col("chunk")))),
          x => x("chunk"))).as("clean_text"))
    docs(s, dir)
      .select(col("doc_id"), size(TextOps.chunkTexts(col("toks"), ChunkTokens)).as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  val dedupRewriteSql: String =
    s"""WITH $docsCte,
       |ch0 AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, greatest(CAST(ceil(len(ctoks) / $ChunkTokens.0) AS BIGINT), 1)),
       |    i -> struct_pack(idx := i,
       |           c := array_to_string(list_slice(ctoks, i*$ChunkTokens + 1, i*$ChunkTokens + $ChunkTokens), ' ')))) AS u
       |  FROM (SELECT doc_id, coalesce(toks, []) AS ctoks FROM docs)),
       |ch AS (SELECT doc_id, CAST(u.idx AS INT) AS idx, u.c AS c,
       |              ${TextOps.h60Sql("u.c")} AS h FROM ch0),
       |rk AS (SELECT doc_id, idx, c,
       |              ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
       |       FROM ch),
       |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
       |               string_agg(c, ' ' ORDER BY idx) AS clean_text
       |        FROM rk WHERE rn = 1 GROUP BY 1),
       |tot AS (SELECT doc_id,
       |          CAST(greatest(CAST(ceil(len(coalesce(toks, [])) / $ChunkTokens.0) AS BIGINT), 1) AS INT) AS n_chunks
       |        FROM docs)
       |SELECT t.doc_id, t.n_chunks,
       |       COALESCE(r.n_kept, 0) AS n_kept,
       |       COALESCE(r.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id""".stripMargin

  /** Token-budget selection — "fill 40% of the corpus token budget
    * with the highest-quality docs": the data-mixing step before
    * training. Two-pass threshold design, NOT a global sort of docs:
    * pass 1 buckets docs by an integer quality score (type-token
    * ratio ×10000, integer div — tie-free) and finds the threshold
    * bucket via a cumulative window over the ≤10001 DISTINCT scores;
    * pass 2 keeps every doc above the threshold and fills the
    * boundary bucket doc_id-ascending until the remainder runs out.
    * All integer arithmetic (budget = 2/5 of total via integer div),
    * and the only windows run over the bounded score domain and the
    * single boundary bucket — corpus-sized data never sorts
    * globally. */
  val tokenBudget: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val base = docs(s, dir).select(col("doc_id"),
        size(col("toks")).cast("long").as("nt"),
        size(array_distinct(col("toks"))).cast("long").as("ndis"))
      .select(col("doc_id"), col("nt"),
        expr("CASE WHEN nt = 0 THEN 0 ELSE (ndis * 10000) div nt END").as("iq"))
    val wCum = Window.orderBy(col("iq").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val buckets = base.groupBy(col("iq")).agg(sum(col("nt")).as("tb"))
      .withColumn("cum", sum(col("tb")).over(wCum))
      .withColumn("prev", col("cum") - col("tb"))
      .withColumn("budget", expr("(sum(tb) over () * 2) div 5"))
    val wDoc = Window.partitionBy(col("iq")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(buckets.select(col("iq"), col("cum"), col("prev"), col("budget")), Seq("iq"))
      .withColumn("cumd", sum(col("nt")).over(wDoc))
      .select(col("doc_id"), col("iq"), col("nt"),
        (col("cum") <= col("budget") ||
          (col("prev") < col("budget") && col("cumd") <= col("budget") - col("prev")))
          .as("kept"))
  }

  val tokenBudgetSql: String =
    s"""WITH $docsCte,
       |base AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt,
       |         CASE WHEN len(toks) = 0 THEN 0
       |              ELSE (CAST(len(list_distinct(toks)) AS BIGINT) * 10000) // len(toks)
       |         END AS iq
       |  FROM docs),
       |buckets AS (
       |  SELECT iq, SUM(nt) AS tb FROM base GROUP BY 1),
       |bw AS (
       |  SELECT iq,
       |         SUM(tb) OVER (ORDER BY iq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         SUM(tb) OVER (ORDER BY iq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tb AS prev,
       |         (SUM(tb) OVER () * 2) // 5 AS budget
       |  FROM buckets)
       |SELECT b.doc_id, b.iq, b.nt,
       |       (w.cum <= w.budget OR
       |        (w.prev < w.budget AND
       |         SUM(b.nt) OVER (PARTITION BY b.iq ORDER BY b.doc_id
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           <= w.budget - w.prev)) AS kept
       |FROM base b JOIN bw w ON w.iq = b.iq""".stripMargin

  /** Mixture raking (iterative proportional fitting, Deming-Stephan
    * 1940) over the (lang, source) domain grid — the data-MIXING step
    * of corpus assembly: per-cell sampling weights adjusted so the
    * sampled TOKEN share matches a uniform target margin on BOTH
    * dimensions (the DoReMi-class domain reweighting, with IPF in
    * place of the reference-model loss). Three alternating rounds,
    * each: margin totals from exact integer micro-weight×token
    * products (order-free Long sums, addExact/multiplyExact guarded),
    * one fixed-order double chain per cell — wq' = FLOOR(wq ·
    * ((tot/nKeys)/margin)) — so the oracle unrolls the identical six
    * stages. Scale shape: the corpus contracts ONCE to the
    * |langs|×|sources| cell table (one groupBy); the IPF loop runs on
    * ≤ tens of rows driver-side (the bounded-collect family: IVF
    * centroids, MMR candidates) and the weights join back map-side —
    * at 100 TB the corpus is scanned exactly once. */
  val mixRaking: Q = (s, dir) => {
    import java.lang.Math.{addExact, multiplyExact}
    val cells = table(s, dir, "documents")
      .select(col("lang"), col("source"), TextOps.tokens(col("text")).as("toks"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(size(col("toks")).cast("long")).as("toks"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val w = Array.fill(cells.length)(1000000L)
    for (_ <- 1 to 3; dim <- 0 to 1) {
      val keyOf: Int => String = i => if (dim == 0) cells(i)._1 else cells(i)._2
      val keys = cells.indices.map(keyOf).distinct
      val tot = cells.indices
        .map(i => multiplyExact(w(i), cells(i)._3)).foldLeft(0L)(addExact)
      val marg = keys.map(k => k -> cells.indices.filter(i => keyOf(i) == k)
        .map(i => multiplyExact(w(i), cells(i)._3)).foldLeft(0L)(addExact)).toMap
      cells.indices.foreach { i =>
        val m = marg(keyOf(i))
        require(m > 0, s"empty margin ${keyOf(i)}")
        // fixed op order, one rounding per op: div, div, mul, floor —
        // the oracle states the identical parenthesization
        w(i) = math.floor(w(i).toDouble *
          ((tot.toDouble / keys.length.toDouble) / m.toDouble)).toLong
      }
    }
    val out = cells.indices.map(i => (cells(i)._1, cells(i)._2, cells(i)._3, w(i)))
    s.createDataFrame(out).toDF("lang", "source", "cell_tokens", "wq")
  }

  val mixRakingSql: String = {
    def stage(n: Int, key: String): String =
      s"""m$n AS (SELECT $key AS k, CAST(SUM(wq * toks) AS BIGINT) AS marg
         |        FROM c$n GROUP BY 1),
         |g$n AS (SELECT CAST(SUM(wq * toks) AS BIGINT) AS tot,
         |               (SELECT CAST(COUNT(*) AS BIGINT) FROM m$n) AS nk
         |        FROM c$n),
         |c${n + 1} AS (
         |  SELECT c.lang, c.source, c.toks,
         |         CAST(FLOOR(CAST(c.wq AS DOUBLE) *
         |           ((CAST(g.tot AS DOUBLE) / CAST(g.nk AS DOUBLE))
         |            / CAST(CASE WHEN m.marg > 0 THEN m.marg
         |                        ELSE error('empty margin') END AS DOUBLE))) AS BIGINT) AS wq
         |  FROM c$n c JOIN m$n m ON c.$key = m.k CROSS JOIN g$n g)""".stripMargin
    val stages = (0 until 6)
      .map(n => stage(n, if (n % 2 == 0) "lang" else "source"))
      .mkString(",\n       |")
    s"""WITH $docsCte2,
       |c0 AS (
       |  SELECT lang, source, CAST(SUM(len(toks)) AS BIGINT) AS toks,
       |         CAST(1000000 AS BIGINT) AS wq
       |  FROM docs2 GROUP BY 1, 2),
       |$stages
       |SELECT lang, source, toks AS cell_tokens, wq FROM c6""".stripMargin
  }


  /** BPE tokenizer TRAINING (Sennrich 2016), three merge rounds as a
    * deterministic query: words collapse to a (word, freq) vocabulary
    * (the corpus-sized shuffle happens once), each word becomes a
    * space-separated symbol string, and every round (a) counts
    * adjacent symbol pairs weighted by word frequency, (b) takes the
    * top pair (count desc, then lexicographic — exact tie-break),
    * (c) applies the merge via THREE fixed left-to-right string
    * `replace` passes — a deterministic fixpoint both engines compute
    * with the identical builtin, sidestepping the list-fold DuckDB's
    * list_reduce cannot type. Pair counting and merging run on the
    * VOCABULARY (distinct words), not the corpus — the standard BPE
    * trick that makes training corpus-size-independent. Output: the
    * learned merge table (round, l, rt, cnt). */
  /** Shared BPE chain: the learned merge table AND the post-merge
    * vocabulary symbolization (word kept alongside, so the encode gate
    * can join it back to documents). */
  private def bpeChain(s: SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val words = docs(s, dir).select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .select(col("w"), col("f"),
        concat(lit(" "), concat_ws(" ", chars), lit(" ")).as("ws"))
    def rep1(c: org.apache.spark.sql.Column, l: org.apache.spark.sql.Column,
        rt: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.replace(c,
        concat(lit(" "), l, lit(" "), rt, lit(" ")),
        concat(lit(" "), l, rt, lit(" ")))
    var cur = words
    val merges = (1 to 3).map { r =>
      val syms = cur.select(col("f"), split(trim(col("ws")), " ").as("sy"))
        .where(size(col("sy")) >= 2)
      val pairs = syms.select(col("f"), explode(
          transform(sequence(lit(1), size(col("sy")) - 1),
            i => struct(element_at(col("sy"), i).as("l"),
              element_at(col("sy"), i + 1).as("rt")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.rt").as("rt"))
        .agg(sum(col("f")).as("cnt"))
      val top = pairs.orderBy(col("cnt").desc, col("l"), col("rt")).limit(1)
        .select(lit(r).as("round"), col("l"), col("rt"), col("cnt"))
      cur = cur.crossJoin(broadcast(top.select(col("l").as("ml"), col("rt").as("mr"))))
        .select(col("w"), col("f"),
          rep1(rep1(rep1(col("ws"), col("ml"), col("mr")), col("ml"), col("mr")),
            col("ml"), col("mr")).as("ws"))
      top
    }
    (merges.reduce(_ unionByName _), cur)
  }

  val bpeTrain: Q = (s, dir) => bpeChain(s, dir)._1

  /** BPE tokenizer APPLY — the encode step that makes t_bpe_train a
    * usable tokenizer: the learned merges are already materialized as
    * the vocabulary's post-merge symbolization, so encoding a corpus
    * is ONE join from exploded words to the (word → symbol count)
    * table — the standard trick that never re-runs merges per
    * occurrence. Output per doc: whitespace token count and the
    * symbol count under the learned 3-merge tokenizer (n_sym ≤
    * n_chars, strictly less wherever a merge fired). */
  val bpeEncode: Q = (s, dir) => {
    val vocab = bpeChain(s, dir)._2
      .select(col("w"), size(split(trim(col("ws")), " ")).as("n_sym"))
    docs(s, dir).select(col("doc_id"), explode(col("toks")).as("w"))
      .join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_bpe_sym"))
  }

  /** The train CTE chain with the word carried through every merge
    * round — shared by [[bpeTrainSql]] and [[bpeEncodeSql]]. */
  private val bpeCtes: String = {
    def round(r: Int): String =
      s"""p$r AS (
         |  SELECT sy[i] AS l, sy[i + 1] AS rt, CAST(SUM(f) AS BIGINT) AS cnt
         |  FROM (SELECT f, string_split(trim(ws), ' ') AS sy FROM w${r - 1}),
         |       unnest(range(1, len(sy))) t(i)
         |  WHERE len(sy) >= 2 GROUP BY 1, 2),
         |t$r AS (
         |  SELECT $r AS round, l, rt, cnt,
         |         ROW_NUMBER() OVER (ORDER BY cnt DESC, l, rt) AS rn
         |  FROM p$r QUALIFY rn = 1),
         |w$r AS (
         |  SELECT w, f, replace(replace(replace(ws,
         |           ' ' || t.l || ' ' || t.rt || ' ', ' ' || t.l || t.rt || ' '),
         |           ' ' || t.l || ' ' || t.rt || ' ', ' ' || t.l || t.rt || ' '),
         |           ' ' || t.l || ' ' || t.rt || ' ', ' ' || t.l || t.rt || ' ') AS ws
         |  FROM w${r - 1} CROSS JOIN t$r t)""".stripMargin
    s"""$docsCte,
       |wd AS (SELECT w, COUNT(*) AS f
       |       FROM (SELECT unnest(toks) AS w FROM docs) GROUP BY 1),
       |w0 AS (SELECT w, f,
       |         ' ' || array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')
       |             || ' ' AS ws
       |       FROM wd),
       |${(1 to 3).map(round).mkString(",\n")}""".stripMargin
  }

  // plain concatenation: a second stripMargin would eat the leading
  // pipe of line-initial `||` concat operators inside bpeCtes
  val bpeTrainSql: String =
    "WITH " + bpeCtes + "\n" +
      """SELECT round, l, rt, cnt FROM t1
        |UNION ALL SELECT round, l, rt, cnt FROM t2
        |UNION ALL SELECT round, l, rt, cnt FROM t3""".stripMargin

  val bpeEncodeSql: String =
    "WITH " + bpeCtes + ",\n" +
      """vocab AS (SELECT w, CAST(len(string_split(trim(ws), ' ')) AS INT) AS n_sym
        |          FROM w3),
        |dw AS (SELECT doc_id, unnest(toks) AS w FROM docs)
        |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_sym) AS BIGINT) AS n_bpe_sym
        |FROM dw JOIN vocab USING (w)
        |GROUP BY 1""".stripMargin

  val all: Map[String, (Q, Option[String])] = Map(
    "t_bpe_train" -> (bpeTrain, Some(bpeTrainSql)),
    "t_bpe_encode" -> (bpeEncode, Some(bpeEncodeSql)),
    "t_token_budget" -> (tokenBudget, Some(tokenBudgetSql)),
    "t_mix_raking" -> (mixRaking, Some(mixRakingSql)),
    "t_dedup_rewrite" -> (dedupRewrite, Some(dedupRewriteSql)),
    "t_unicode_clean" -> (unicodeClean, Some(unicodeCleanSql)),
    "m_naive_bayes" -> (naiveBayes, Some(naiveBayesSql)),
    "t_winnow" -> (winnowFp, Some(winnowFpSql)),
    "t_pagerank" -> (docPagerank, Some(docPagerankSql)),
    "t_bfs_dist" -> (bfsDist, Some(bfsDistSql)),
    "t_sssp" -> (sssp, Some(ssspSql)),
    "t_lsh_recall" -> (lshRecall, Some(lshRecallSql)),
    "t_entropy" -> (entropy, Some(entropySql)),
    "t_psi" -> (psi, Some(psiSql)),
    "t_lsh_verify" -> (lshVerify, Some(lshVerifySql)),
    "t_dedup_clusters" -> (dedupClusters, Some(dedupClustersSql)),
    "t_dedup_keeper" -> (dedupKeeper, Some(dedupKeeperSql)),
    "t_keeper_from_clusters" -> (keeperFromClusterTable, Some(dedupKeeperSql)),
    "t_prefix_join" -> (prefixJoin, Some(prefixJoinSql)),
    "t_mixture_sample" -> (mixtureSample, Some(mixtureSampleSql)),
    "t_triangles" -> (triangles, Some(trianglesSql)),
    "t_label_prop" -> (labelProp, Some(labelPropSql)),
    "t_kcore" -> (kcore, Some(kcoreSql)),
    "t_rake" -> (rake, Some(rakeSql)),
    "t_substring_dedup" -> (substringDedup, Some(substringDedupSql)),
    "t_cdc_chunks" -> (cdcChunks, Some(cdcChunksSql)),
    "t_hash_split" -> (hashSplit, Some(hashSplitSql)),
    "t_tfidf" -> (tfidf, Some(tfidfSql)),
    "t_bm25" -> (bm25, Some(bm25Sql)),
    "t_corpus_shift" -> (corpusShift, Some(corpusShiftSql)),
    "t_top_ngrams" -> (topNgrams, Some(topNgramsSql)),
    "t_cms_heavy" -> (cmsHeavy, Some(cmsHeavySql)),
    "t_decontaminate" -> (decontaminate, Some(decontaminateSql)),
    "t_pattern_scan" -> (patternScan, Some(patternScanSql)),
    "t_bpe_tokens" -> (bpeCount, Some(bpeCountSql)),
    "t_text_stats" -> (textStats, Some(textStatsSql)),
    "t_quality_score" -> (quality, Some(qualitySql)),
    "t_lang_id" -> (langId, Some(langIdSql)),
    "t_fingerprint" -> (fingerprint, Some(fingerprintSql)),
    "t_dedup_exact" -> (dedupExact, Some(dedupExactSql)),
    "t_ngram_jaccard" -> (ngramJaccard, Some(ngramJaccardSql)),
    "t_containment" -> (containment, Some(containmentSql)),
    "t_simhash" -> (simhash, Some(simhashSql)),
    "t_simhash_pairs" -> (simhashPairs, Some(simhashPairsSql)),
    "t_minhash_sig" -> (minhashSig, Some(minhashSigSql)),
    "t_minhash_lsh" -> (minhashLsh, Some(minhashLshSql)),
    "t_repetition" -> (repetition, Some(repetitionSql)),
    "t_repetition_rowwise" -> (repetitionRowwise, Some(repetitionSql)),
    "t_quality_filter" -> (qualityFilter, Some(qualityFilterSql)),
    "t_corpus_prep" -> (corpusPrep, Some(corpusPrepSql)),
    "t_chunk_dedup" -> (chunkDedup, Some(chunkDedupSql)),
    "t_line_dedup" -> (lineDedup, Some(lineDedupSql)),
    "t_inverted_index" -> (invertedIndex, Some(invertedIndexSql)),
    "t_collocations" -> (collocations, Some(collocationsSql)),
    "t_weighted_sample" -> (weightedSample, Some(weightedSampleSql)),
    "t_lm_score" -> (lmScore, Some(lmScoreSql)),
    "t_next_token" -> (nextToken, Some(nextTokenSql)),
    "t_redact" -> (redact, Some(redactSql)),
    "t_textrank" -> (textrank, Some(textrankSql)),
    "t_seq_pack" -> (seqPack, Some(seqPackSql)),
  )
}
