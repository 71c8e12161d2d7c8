package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.{Fixpoint, Pinned, TextOps, TwoPass, VectorOps}
import Portable._

/** LLM-data-pipeline operators (north-star mandate): dedup (exact, MinHash-
  * LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity search
  * (brute-force + LSH-bucketed ANN), and text analysis (stats, language-ID,
  * quality scoring, fingerprinting, token counting, tf-idf).
  *
  * Scale notes per operator live on the builders; the shared principle:
  * per-document work is map-side projection of short digests, and only
  * digests / candidate keys shuffle. Pairwise similarity is always gated by
  * a blocking key (LSH band, sign bucket, metadata block) so candidate
  * counts stay near-linear; the brute-force variants bound one side (a
  * bounded query set), never all-pairs.
  */
object LlmOps {

  import VectorOps.{cosine, signKey}

  // ---- DuckDB SQL fragments (must mirror the Scala op trees exactly) ----

  private val toksSql = "string_split(text, ' ')"

  /** 40-bit token digests over a `toks` column (TextOps.tokenHashes twin). */
  private val tokenHashesSql =
    "list_transform(toks, t -> CAST(('0x' || substr(md5(t), 1, 10)) AS BIGINT))"

  /** 3-token shingle digests over a `th` column (TextOps.shingleHashes3
    * twin — identical integer op tree, exact in BIGINT on both engines). */
  private val shingle3Sql = {
    import graft.operators.TextOps.{ShingleC1, ShingleC2, MinhashPrime}
    s"list_transform(range(1, len(th) - 1), i -> (th[i] * $ShingleC1 + th[i+1] * $ShingleC2 + th[i+2]) % $MinhashPrime)"
  }

  /** 2-token shingle digests over a `th` column (TextOps.shingleHashes2
    * twin — identical integer op tree, exact in BIGINT on both engines). */
  private val shingle2Sql = {
    import graft.operators.TextOps.{MinhashPrime, ShingleC1}
    s"list_transform(range(1, len(th)), i -> (th[i] * $ShingleC1 + th[i+1]) % $MinhashPrime)"
  }

  /** DuckDB twin of the 40-bit md5 doc-id digest used by the split and
    * sampling operators (hex-parse trick: BIGINT cast of '0x…'). */
  private val docIdDigestSql =
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"

  /** The iid half-split predicate shared by the whole drift family
    * (q304/q332/q335/q356/q365/q367/q390/q394): first 24 md5 bits of
    * 'drift:'||doc_id, doubled-compare against 16⁶ so the midpoint
    * threshold stays exact in long. ONE Column helper + ONE SQL literal
    * (the [[MarkerChain]] pattern, r18 ADVICE) so an edit to the split
    * re-syncs every site on both engines at once. */
  private def driftHalfCol: Column =
    conv(substring(md5(concat(lit("drift:"), col("doc_id").cast("string"))),
      1, 6), 16, 10).cast("long") * 2L < 16777216L

  /** DuckDB twin of [[driftHalfCol]] — substitute where `doc_id` is in
    * scope; parses the same 24 bits via the '0x' hex trick. */
  private val driftHalfSql: String =
    "CAST(('0x' || substr(md5('drift:' || CAST(doc_id AS VARCHAR)), 1, 6)) " +
      "AS BIGINT) * 2 < 16777216"

  /** DuckDB twin of [[driftNtokCensus]] — the (ntok, nav, nbv) drift
    * value census as a WITH-fragment named `census`, shared by the
    * q418/q419/q420/q428 oracles so all read the SAME split and domain
    * as their Spark sides. */
  private def driftNtokCensusSql: String =
    s"""census AS MATERIALIZED (
       |  SELECT ntok,
       |         ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS nav,
       |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS nbv
       |  FROM (
       |    SELECT CAST(len($toksSql) AS BIGINT) AS ntok,
       |           $driftHalfSql AS in_a
       |    FROM documents)
       |  GROUP BY 1
       |)""".stripMargin

  /** DuckDB twin of [[qfPerDocScores]]: the q325 training + per-doc
    * scoring chain as a WITH-fragment ending in `perdoc(doc_id, lang,
    * nb, score_bits)` and `calib(ts, tnb)` — ONE literal shared by the
    * q325 oracle and the q396/q397 paired-vote oracles. */
  private def qfPerDocSql: String =
    s"""bg AS MATERIALIZED (
       |  SELECT doc_id, lang, CAST(h % $QfBuckets AS INT) AS bucket
       |  FROM (
       |    SELECT doc_id, lang, unnest($shingle2Sql) AS h
       |    FROM (SELECT doc_id, lang, $tokenHashesSql AS th
       |          FROM (SELECT doc_id, lang, $toksSql AS toks FROM documents))
       |  )
       |), b AS (
       |  SELECT bucket,
       |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pos,
       |         count(*) AS cnt_all
       |  FROM bg GROUP BY 1
       |), tot AS (
       |  SELECT CAST(sum(cnt_pos) AS BIGINT) AS tp,
       |         CAST(sum(cnt_all) AS BIGINT) AS ta FROM b
       |), w AS (
       |  SELECT bucket,
       |         (CAST(length(bin(cnt_pos + 1)) AS BIGINT)
       |            - CAST(length(bin(tp + 1)) AS BIGINT))
       |         - (CAST(length(bin(cnt_all + 1)) AS BIGINT)
       |            - CAST(length(bin(ta + 1)) AS BIGINT)) AS w
       |  FROM b, tot
       |), sc AS (
       |  SELECT bg.doc_id, count(*) AS nb, CAST(sum(w.w) AS BIGINT) AS score_bits
       |  FROM bg JOIN w USING (bucket) GROUP BY 1
       |), perdoc AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang,
       |         CAST(coalesce(sc.nb, 0) AS BIGINT) AS nb,
       |         coalesce(sc.score_bits, 0) AS score_bits
       |  FROM (SELECT doc_id, lang FROM documents) d
       |  LEFT JOIN sc ON d.doc_id = sc.doc_id
       |), calib AS (
       |  SELECT CAST(sum(score_bits) AS BIGINT) AS ts,
       |         CAST(sum(nb) AS BIGINT) AS tnb FROM perdoc
       |)""".stripMargin

  /** DuckDB twin of [[lmKeepVotesFrom]]: the q131 chain reduced to the
    * per-doc keep vote, as a fragment ending in `lmvotes(doc_id,
    * n_toks, keep)` (n_toks rides for the q436 dose bands; vote
    * consumers select only (doc_id, keep)). */
  private def lmKeepVoteSql: String =
    s"""lmtoks AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |lmv AS (SELECT tok, count(*) AS cnt FROM lmtoks GROUP BY 1),
       |lmn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_corpus FROM lmv),
       |lmvotes AS MATERIALIZED (
       |  SELECT doc_id, n_toks,
       |         (CAST(sb AS DOUBLE) / CAST(n_toks AS DOUBLE)) <= 6.0 AS keep
       |  FROM (
       |    SELECT t.doc_id, count(*) AS n_toks,
       |           CAST(sum(CAST(length(bin(lmn.n_corpus)) AS BIGINT)
       |                    - CAST(length(bin(v.cnt)) AS BIGINT)) AS BIGINT)
       |             AS sb
       |    FROM lmtoks t JOIN lmv v ON t.tok = v.tok, lmn GROUP BY 1)
       |)""".stripMargin

  /** DuckDB twin of the 2-d [[jlProjected]] grid points — the q344
    * projection replay sliced to j = 0, 1 plus the [[DbscanEps]] cell
    * keys, ending in `pts(vec_id, y0, y1, cx, cy)`. ONE literal shared
    * by the q345 and q400 oracles. */
  private def jl2PtsSql: String =
    s"""proj AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(range(0, 2), j ->
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(embedding, (x, i) ->
       |          (CASE WHEN CAST(('0x' || substr(md5('jl:' ||
       |                  CAST(i - 1 AS VARCHAR) || ':' ||
       |                  CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
       |                THEN 1.0 ELSE -1.0 END) * CAST(x AS DOUBLE))),
       |        (a, v) -> a + v)) AS p
       |  FROM embeddings
       |), pts AS MATERIALIZED (
       |  SELECT vec_id, p[1] AS y0, p[2] AS y1,
       |         CAST(floor(p[1] / $DbscanEps) AS BIGINT) AS cx,
       |         CAST(floor(p[2] / $DbscanEps) AS BIGINT) AS cy
       |  FROM proj
       |)""".stripMargin

  /** DuckDB twin of [[rulesKeepVotesFrom]]: the q147 rule list reduced to
    * the per-doc keep vote, ending in `rulesvotes(doc_id, keep)`. */
  private def rulesKeepVoteSql: String =
    s"""rbase AS (
       |  SELECT doc_id,
       |         CAST(len(toks) AS BIGINT) AS ntok,
       |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nosp,
       |         CAST(len(list_filter(['the','a'],
       |                              t -> list_contains(toks, t))) AS BIGINT)
       |           AS nsp
       |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
       |), rtop AS (
       |  SELECT doc_id, max(c) AS top_cnt FROM (
       |    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
       |    FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
       |    GROUP BY doc_id, tok)
       |  GROUP BY doc_id
       |), rulesvotes AS MATERIALIZED (
       |  SELECT b.doc_id,
       |         ((b.ntok >= 25 AND b.ntok <= 90)
       |          AND (${ratioSql("b.nosp", "b.ntok")} >= 4.0
       |               AND ${ratioSql("b.nosp", "b.ntok")} < 7.0)
       |          AND b.nsp >= 2
       |          AND (t.top_cnt * 10 <= b.ntok)) AS keep
       |  FROM rbase b JOIN rtop t USING (doc_id)
       |)""".stripMargin

  /** ONE shared literal for the q48/q351/q364/q368 marker-scorer family
    * (r17 ADVICE): the per-language marker lists in the decision chain's
    * PRIORITY order (ties break to the earlier entry). Both the Spark
    * expressions and the DuckDB oracle SQL are generated from this, so
    * an edit here re-syncs the whole family — the
    * [[graft.queries.Relational.dpNoiseCaseSql]] pattern. */
  private[queries] val MarkerChain: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "une", "est"))

  /** toks → one long `s_<lang>` marker-hit column per MarkerChain row. */
  private def withMarkerScores(df: DataFrame): DataFrame =
    MarkerChain.foldLeft(df) { case (d, (l, ws)) =>
      d.withColumn(s"s_$l", TextOps.markerHits(col("toks"), ws).cast("long"))
    }

  /** The predicted-language decision chain over the s_<lang> columns.
    * `fallback` is the no-marker arm: "und" for q48's unscreened census;
    * the LAST chain language under an upstream s_tot > 0 screen (which
    * makes that arm reachable only when the last language wins). */
  private def markerPredicted(fallback: String): Column = {
    val langs = MarkerChain.map(_._1)
    val last =
      if (fallback == langs.last) lit(langs.last)
      else when(col(s"s_${langs.last}") > 0L, langs.last).otherwise(fallback)
    langs.init.zipWithIndex.foldRight(last) { case ((l, i), acc) =>
      val cond = langs.drop(i + 1).map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduce(_ && _) && col(s"s_$l") > 0L
      when(cond, l).otherwise(acc)
    }
  }

  /** DuckDB twin of [[withMarkerScores]]: the s_<lang> select list. */
  private def markerScoresSql: String =
    MarkerChain.map { case (l, ws) =>
      val in = ws.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter(toks, t -> t IN ($in))) AS BIGINT) AS s_$l"
    }.mkString(", ")

  /** DuckDB twin of [[markerPredicted]]. */
  private def markerCaseSql(fallback: String): String = {
    val langs = MarkerChain.map(_._1)
    val whens = langs.init.zipWithIndex.map { case (l, i) =>
      val conds = langs.drop(i + 1).map(o => s"s_$l >= s_$o") :+ s"s_$l > 0"
      s"WHEN ${conds.mkString(" AND ")} THEN '$l'"
    }
    val last =
      if (fallback == langs.last) s"ELSE '${langs.last}' END"
      else s"WHEN s_${langs.last} > 0 THEN '${langs.last}' ELSE '$fallback' END"
    s"CASE ${whens.mkString(" ")} $last"
  }

  /** `s_en + s_es + ...` total-hits SQL over the MarkerChain columns. */
  private def markerTotSql: String =
    MarkerChain.map { case (l, _) => s"s_$l" }.mkString(" + ")

  /** `'the','and',...` — one language's marker list as a SQL IN-list. */
  private def markerInSql(lang: String): String =
    MarkerChain.toMap.apply(lang).map(w => s"'$w'").mkString(",")

  /** `greatest(s_en, s_es, ...)` over the MarkerChain columns. */
  private def markerBestSql: String =
    s"greatest(${MarkerChain.map { case (l, _) => s"s_$l" }.mkString(", ")})"

  /** `'en','es',...` — the chain's language domain as a SQL IN-list. */
  private def markerLangsSql: String =
    MarkerChain.map { case (l, _) => s"'$l'" }.mkString(",")

  /** Shared WITH-prefix for the q366/q373 eval pair: the q131 unigram-
    * surprisal per-doc score → (score, npv, nnv) value census, positives
    * = non-English docs. One literal so the two oracles cannot unsync. */
  private def surprisalCensusSql: String =
    s"""toks AS (
       |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents
       |), v AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
       |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_corpus FROM v),
       |scored AS MATERIALIZED (
       |  SELECT t.doc_id, t.lang,
       |         ${sumLongSql("CAST(length(bin(n.n_corpus)) AS BIGINT) - CAST(length(bin(v.cnt)) AS BIGINT)")}
       |           AS score
       |  FROM toks t JOIN v ON t.tok = v.tok, n
       |  GROUP BY 1, 2
       |), census AS MATERIALIZED (
       |  SELECT score,
       |         ${sumLongSql("CASE WHEN lang <> 'en' THEN 1 ELSE 0 END")} AS npv,
       |         ${sumLongSql("CASE WHEN lang = 'en' THEN 1 ELSE 0 END")} AS nnv
       |  FROM scored GROUP BY 1
       |)""".stripMargin

  /** Fixture embeddings are fixed 64-dim; float products, double fold. */
  private def dotSql(x: String, y: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(range(1, 65), i -> $x[i] * $y[i]) AS DOUBLE[])), (acc, p) -> acc + p)"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  // ---- queries ----

  /** Exact dedup census: hash-groupBy on content digests. At scale this is
    * one shuffle of 16-byte digests, never of documents. */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2($"text", 256)).as("n_uniq_text"),
        countDistinct(TextOps.sortedTokenFingerprint($"toks")).as("n_uniq_tokenset"))
  }

  /** MinHash-LSH bucketing census: 12-hash signature, 4 bands × 3 rows.
    * Output is the bucket-size histogram per band (deterministic whatever
    * the dup structure); docs sharing a (band, bkey) are candidates. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshKeyed(s, dir)
      .groupBy($"band", $"bkey").agg(count(lit(1)).as("bucket_size"))
      .groupBy($"band", $"bucket_size").agg(count(lit(1)).as("n_buckets"))
      .orderBy($"band", $"bucket_size")
  }

  /** Shared candidate-edge builder for [[dedupMinhashLsh]] (bucket census)
    * and [[dedupClusters]] (component labels): docs keyed by their 4×(3-row)
    * MinHash band buckets. */
  private def lshKeyed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lshKeys(Tables.documents(s, dir))
  }

  /** The (doc_id, band, bkey) pipeline of [[lshKeyed]] over an arbitrary
    * documents slice — shared with [[incrementalLshDedup]], whose index
    * and batch sides key different slices of the same table. */
  private def lshKeys(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", TextOps.tokens($"text"))
      // shingle-less docs (<3 tokens) have no minhash signature: drop them
      // BEFORE signing — array_min over empty yields null signature parts,
      // which Spark's concat_ws would skip but SQL string-concat nulls out,
      // so keeping them would also diverge from any SQL twin. The guard is
      // on TOKEN count, not size(hs): a filter on the expensive hs column
      // gets predicate-pushed below the projection and inlines the whole
      // digest pipeline into a scan-side Filter (O(tokens²) md5 per doc —
      // the q43 explode_outer lesson); size(split(text)) is cheap to push.
      .filter(size($"toks") >= 3)
      .withColumn("th", TextOps.tokenHashes($"toks"))
      .withColumn("hs", TextOps.shingleHashes3($"th"))
      .withColumn("sig", TextOps.minhashSignature($"hs", 12))
      .withColumn("bandkey", explode(TextOps.lshBands($"sig", 4, 3)))
      .select($"doc_id", $"bandkey.band".as("band"), $"bandkey.bkey".as("bkey"))
  }

  /** Incremental MinHash-LSH dedup — the standing-index maintenance shape
    * of q41 (the production crawl-ingest protocol; q305's delta-merge idea
    * applied to the dedup index): the corpus splits into a STANDING corpus
    * (75 % — its band index is the amortized state a production pipeline
    * persists between ingests) and a NEW BATCH (25 %, the crawl increment),
    * and the batch is deduped by (a) probing the standing index with the
    * batch's own band keys and (b) self-bucketing within the batch. The
    * standing corpus is never re-keyed per ingest and nothing ever joins
    * corpus×corpus: per ingest the work is O(|batch|·bands) key
    * construction plus two keyed joins bounded by bucket co-membership
    * (the q41/q53 df-bound), and merging the ingested keys into the
    * standing index afterwards is a union append — q305's maintained-state
    * protocol, here for the LSH index. Split membership is a pure function
    * of doc_id (the q260 consistent hash, salt "incdedup:"), so both
    * engines replay it exactly. The batch's single (band,bkey) exchange is
    * shared by the corpus probe and both self-join sides (ReuseExchange —
    * q76's idiom). Output: one row per batch doc — shingle-less docs kept
    * with zeros by the defensive LEFT join — with its standing-candidate
    * count and both dup flags. The ORACLE rebuilds the entire index from
    * scratch and asks the same questions, so the hash compare IS the
    * maintained≡recomputed theorem (q305's pattern). */
  def incrementalLshDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("hv", conv(substring(md5(concat(lit("incdedup:"),
        $"doc_id".cast("string"))), 1, 6), 16, 10).cast("long"))
    val inBatch = $"hv" * 4L < lit(16777216L) // 25 % crawl increment
    // standing index: the amortized state (persisted between ingests in
    // production; derived here because the harness is single-shot)
    val index = lshKeys(docs.filter(!inBatch))
      .select($"doc_id".as("old_id"), $"band", $"bkey")
    // the per-ingest work: key the BATCH only
    val bkeys = lshKeys(docs.filter(inBatch)).repartition($"band", $"bkey")
    val vsCorpus = bkeys.join(index, Seq("band", "bkey"))
      .groupBy($"doc_id")
      .agg(countDistinct($"old_id").as("n_corpus_candidates"))
    val inBatchDup = bkeys.select($"doc_id".as("a"), $"band", $"bkey")
      .join(bkeys.select($"doc_id".as("b"), $"band".as("band2"), $"bkey".as("bkey2")),
        $"band" === $"band2" && $"bkey" === $"bkey2" && $"a" =!= $"b")
      .select($"a".as("doc_id")).distinct()
      .withColumn("dupb", lit(true))
    docs.filter(inBatch).select($"doc_id")
      .join(vsCorpus, Seq("doc_id"), "left")
      .join(inBatchDup, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_corpus_candidates", lit(0L)).as("n_corpus_candidates"),
        $"n_corpus_candidates".isNotNull.as("dup_vs_corpus"),
        coalesce($"dupb", lit(false)).as("dup_in_batch"))
      .orderBy($"doc_id")
  }

  /** Duplicate-SPAN extraction — the exact-substring dedup deliverable
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): q108 censuses duplicated shingles and q311 selects index
    * fingerprints, but surgical removal needs the MAXIMAL duplicated
    * spans themselves. Construction: the positional 3-shingle digest
    * stream (posexplode_outer + post-generate null filter — the q311/q43
    * InferFiltersFromGenerate contract), a cross-doc duplicate screen
    * (digest doc-frequency ≥ 2 — digests only, never text), then
    * gaps-and-islands per doc: positions carrying duplicated shingles
    * collapse to maximal consecutive runs via pos − row_number() (the
    * classic islands key), and a run of R shingle positions is a
    * duplicated span of R+2 tokens. Every shared ≥3-token substring is
    * covered by construction (its shingles are all cross-doc duplicated,
    * so its positions are consecutive marked positions inside one run).
    * Scale: the digest stream repartitions ONCE on h — the df census and
    * the mark join both consume that exchange (ReuseExchange, the q76
    * idiom) — and the islands window is doc-keyed; nothing is ever
    * pairwise and only (doc_id, pos, h) triples shuffle. Output: one row
    * per doc (span-less docs kept as zeros by the defensive LEFT join)
    * with span count, total duplicated shingle positions, the longest
    * span's token length, and the earliest start among longest spans
    * (ties by smallest start — one lexicographic struct max, the q294
    * pick). Positions are 1-based to match the oracle's list
    * subscripts. */
  def duplicateSpanExtraction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val hs = docs
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("hs", TextOps.shingleHashes3($"th"))
      .select($"doc_id", posexplode_outer($"hs"))
      .withColumnRenamed("pos", "pos0").withColumnRenamed("col", "h")
      .filter($"h".isNotNull)
      .select($"doc_id", ($"pos0" + 1L).as("pos"), $"h")
      .repartition($"h")
    val dup = hs.groupBy($"h").agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 2).select($"h")
    val mark = hs.join(dup, "h").select($"doc_id", $"pos")
    val spans = maximalRuns(mark)
    val agg = spans.groupBy($"doc_id").agg(
      count(lit(1)).as("n_dup_spans"),
      sum($"len").as("n_dup_positions"),
      max(struct($"len".as("l"), (-$"sp").as("ns"))).as("m"))
    docs.select($"doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_dup_spans", lit(0L)).as("n_dup_spans"),
        coalesce($"n_dup_positions", lit(0L)).as("n_dup_positions"),
        coalesce($"m.l" + 2L, lit(0L)).as("max_span_tokens"),
        coalesce(-$"m.ns", lit(-1L)).as("first_max_span_start"))
      .orderBy($"doc_id")
  }

  /** Maximal runs of consecutive 1-based positions per doc — the
    * gaps-and-islands kernel shared by [[duplicateSpanExtraction]] and
    * [[evalSpanDecontamination]]: (doc_id, pos) → (doc_id, sp, len) via
    * pos − row_number() over a doc-keyed window (never global). */
  private def maximalRuns(mark: DataFrame): DataFrame = {
    import mark.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    mark.withColumn("grp", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"grp")
      .agg(min($"pos").as("sp"), count(lit(1)).as("len"))
  }

  /** Span-level EVAL-SET decontamination — the q314 span machinery
    * pointed at the leak that actually matters in production (GPT-3
    * appendix-C / Pile class): a 10 % consistent-hash slice of the corpus
    * plays the benchmark (membership a pure function of doc_id, salt
    * "eval:"), and every TRAIN doc reports the maximal spans whose
    * 3-token shingles appear ANYWHERE in the eval set — q96 gives the
    * doc-level keep/drop verdict, this gives the span-level evidence a
    * surgical scrubber needs (which tokens, how long, how many). The
    * eval side collapses to a DISTINCT digest set (no positions — at
    * any scale it is the small side and only digests shuffle); train
    * positions semi-join it, then the shared islands kernel emits
    * maximal runs (a run of R positions = R+2 contaminated tokens).
    * Defensive LEFT join keeps clean and shingle-less train docs as
    * zeros/FALSE. Only (doc, pos, h) triples move; the islands window
    * is doc-keyed. */
  def evalSpanDecontamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("hv", conv(substring(md5(concat(lit("eval:"),
        $"doc_id".cast("string"))), 1, 6), 16, 10).cast("long"))
    val isEval = $"hv" * 10L < lit(16777216L) // 10 % held-out benchmark
    def shingleStream(d: DataFrame): DataFrame = d
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("hs", TextOps.shingleHashes3($"th"))
      .select($"doc_id", posexplode_outer($"hs"))
      .withColumnRenamed("pos", "pos0").withColumnRenamed("col", "h")
      .filter($"h".isNotNull)
      .select($"doc_id", ($"pos0" + 1L).as("pos"), $"h")
    val evalSet = shingleStream(docs.filter(isEval)).select($"h").distinct()
    val mark = shingleStream(docs.filter(!isEval))
      .join(evalSet, Seq("h"), "left_semi")
      .select($"doc_id", $"pos")
    val agg = maximalRuns(mark).groupBy($"doc_id").agg(
      count(lit(1)).as("n_contam_spans"),
      sum($"len").as("n_contam_positions"),
      max($"len" + 2L).as("max_span_tokens"))
    docs.filter(!isEval).select($"doc_id")
      .join(agg, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_contam_spans", lit(0L)).as("n_contam_spans"),
        coalesce($"n_contam_positions", lit(0L)).as("n_contam_positions"),
        coalesce($"max_span_tokens", lit(0L)).as("max_span_tokens"),
        $"n_contam_spans".isNotNull.as("contaminated"))
      .orderBy($"doc_id")
  }

  /** lcm(61..70): RRF denominators for ranks 1..10 at k=60 all divide
    * this, so reciprocal-rank contributions are EXACT INTEGERS in units
    * of 1/L — the no-float house stance applied to rank fusion. */
  private val RrfL = 142813628717760L

  /** Hybrid retrieval fusion via Reciprocal Rank Fusion — the RAG-stack
    * operator that combines a LEXICAL ranker and a SEMANTIC ranker
    * (Cormack-Clarke-Büttcher 2009 RRF: score(d) = Σ 1/(k + rank_s(d)),
    * k = 60 — the standard hybrid-search recipe in every production
    * retrieval stack): per query doc (fixed ≤8-doc panel, the q45
    * bounded-query contract), candidates are ranked by distinct-token
    * Jaccard (lexical) and by embedding cosine (semantic, q45's
    * fixed-order tree), each top-10; the fused list re-ranks by the SUM
    * of reciprocal ranks. Two portability moves: (1) contributions are
    * exact integers — L/(60+r) with L = lcm(61..70) divides evenly for
    * every rank, so the fused ORDER and score are integer arithmetic
    * (the double division is exact below 2⁵³ on both engines);
    * (2) within-ranker orders break ties on doc id, so ranks are
    * engine-invariant. Scale: both rankers are broadcast-panel × corpus
    * map-side scores (K·N, linear) + one keyed top-k window per ranker;
    * the fusion join touches ≤ K·10 rows per side. Output: fused top-5
    * per query with the consensus flag (in BOTH top-10 lists). */
  def hybridRrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", array_distinct(TextOps.tokens($"text")).as("ts"))
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val qd = docs.filter($"doc_id" < 8).select($"doc_id".as("qid"), $"ts".as("qts"))
    val qe = emb.filter($"vec_id" < 8).select($"vec_id".as("qid"), $"embedding".as("qemb"))
    val lex = broadcast(qd)
      .join(docs.select($"doc_id".as("vid"), $"ts"), $"qid" =!= $"vid")
      .withColumn("inter", size(array_intersect($"qts", $"ts")).cast("long"))
      .withColumn("uni",
        size($"qts").cast("long") + size($"ts").cast("long") - $"inter")
      .withColumn("jac",
        when($"uni" === 0L, lit(0.0))
          .otherwise($"inter".cast("double") / $"uni".cast("double")))
      .withColumn("rl", row_number().over(
        Window.partitionBy($"qid").orderBy($"jac".desc, $"vid".asc)))
      .filter($"rl" <= 10).select($"qid", $"vid", $"rl")
    val sem = broadcast(qe)
      .join(emb.select($"vec_id".as("vid"), $"embedding".as("ve")), $"qid" =!= $"vid")
      .withColumn("cos", cosine(s)($"qemb", $"ve"))
      .withColumn("rs", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)))
      .filter($"rs" <= 10).select($"qid", $"vid", $"rs")
    val fused = lex.join(sem, Seq("qid", "vid"), "full_outer")
      .withColumn("rrf_score",
        coalesce((lit(RrfL) / ($"rl".cast("long") + 60L)).cast("long"), lit(0L)) +
          coalesce((lit(RrfL) / ($"rs".cast("long") + 60L)).cast("long"), lit(0L)))
      .withColumn("in_both", $"rl".isNotNull && $"rs".isNotNull)
    fused
      .withColumn("fr", row_number().over(
        Window.partitionBy($"qid").orderBy($"rrf_score".desc, $"vid".asc)))
      .filter($"fr" <= 5)
      .select($"qid", $"fr".cast("long").as("fused_rank"),
        $"vid".as("doc_id"), $"rrf_score", $"in_both")
      .orderBy($"qid", $"fused_rank")
  }

  /** Total sample budget for [[neymanAllocation]]. */
  val NeymanK = 200L

  /** Neyman-optimal stratified sample ALLOCATION (Neyman 1934, the
    * textbook survey-sampling design) — the missing DESIGN step in the
    * sampling family: q84 draws a stratified sample with GIVEN
    * per-stratum rates; this computes the rates that minimize estimator
    * variance for a fixed budget, n_h ∝ N_h·σ_h — sample MORE where the
    * metric varies more, the rule every serious eval-set builder
    * applies. Strata = (lang, q304's length band); metric = token
    * count. N_h·σ_h = √(N_h·Σx² − (Σx)²) from EXACT integer moments
    * (decimal(38,0) cross terms — sum² passes 2⁶³ early, the q304
    * pattern; decimal stays internal), converted to double ONCE for the
    * √. Integerization is LARGEST-REMAINDER (Hamilton) rounding, so the
    * allocations sum to EXACTLY [[NeymanK]] — floor every ideal, then
    * award the K−Σfloor leftovers to the largest fractional parts,
    * ties broken by stratum key.
    *
    * Portability + plan hygiene: Σw over strata is an ORDER-DEPENDENT
    * float sum, and the leftover ranking is a global order — both run
    * over the ≤|langs|·3-row census folded into ONE sorted array row
    * (the q327 rank-ordered fold), so every float accumulates in
    * stratum order on both engines and the rank is an array POSITION —
    * no no-partition WindowExec anywhere. Scale: the corpus pays one
    * grouped-moments pass; everything after is a ≤15-element array on
    * one row. `capped` flags n_alloc > N_h (a stratum smaller than its
    * award — production designs reallocate iteratively; flagged FALSE
    * at every fixture SF so a trip means the design broke). */
  def neymanAllocation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val strata = Tables.documents(s, dir)
      .select($"lang", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("band",
        when($"ntok" >= 40, "long").when($"ntok" >= 20, "mid")
          .otherwise("short"))
      .groupBy($"lang", $"band")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("st"),
        sum($"ntok" * $"ntok").as("ssq"))
      .withColumn("w", sqrt(($"n_docs".cast(d38) * $"ssq"
        - $"st".cast(d38) * $"st").cast("double")))
    val kd = lit(NeymanK.toDouble)
    strata
      .agg(sort_array(collect_list(
        struct($"lang", $"band", $"n_docs", $"w"))).as("xs"))
      .select($"xs",
        aggregate($"xs", lit(0.0), (a, x) => a + x.getField("w")).as("sw"),
        aggregate($"xs", lit(0.0),
          (a, x) => a + x.getField("n_docs").cast("double")).as("sn"))
      // sw = 0 (every stratum variance-free) would make the Neyman
      // divide an ANSI DIVIDE_BY_ZERO; CaseWhen leaves the divide
      // UNevaluated and falls back to proportional-to-N_h allocation
      // (the textbook degenerate case — q332/q335's denomOk stance)
      .select(transform($"xs", x => struct(
        x.getField("lang").as("lang"), x.getField("band").as("band"),
        x.getField("n_docs").as("n_docs"), x.getField("w").as("w"),
        when($"sw" > 0.0, kd * x.getField("w") / $"sw")
          .otherwise(kd * x.getField("n_docs") / $"sn").as("ideal")))
        .as("xs"))
      .select(transform($"xs", x => struct(
        x.getField("lang").as("lang"), x.getField("band").as("band"),
        x.getField("n_docs").as("n_docs"), x.getField("w").as("w"),
        x.getField("ideal").as("ideal"),
        floor(x.getField("ideal")).cast("long").as("base"),
        (x.getField("ideal") - floor(x.getField("ideal"))).as("frac")))
        .as("xs"))
      .select($"xs", (lit(NeymanK) - aggregate($"xs", lit(0L),
        (a, x) => a + x.getField("base"))).as("leftover"))
      // largest-remainder order as a STRUCT SORT (−frac, lang, band):
      // the award is then just `position < leftover`
      .select($"leftover", posexplode(sort_array(transform($"xs",
        x => struct((-x.getField("frac")).as("nf"),
          x.getField("lang").as("lang"), x.getField("band").as("band"),
          x.getField("n_docs").as("n_docs"), x.getField("w").as("w"),
          x.getField("ideal").as("ideal"), x.getField("base").as("base"))))))
      .select($"col.lang".as("lang"), $"col.band".as("band"),
        $"col.n_docs".as("n_docs"), $"col.w".as("neyman_weight"),
        $"col.ideal".as("ideal"),
        ($"col.base" + when($"pos" < $"leftover", 1L).otherwise(0L))
          .as("n_alloc"))
      .withColumn("capped", $"n_alloc" > $"n_docs")
      .orderBy($"lang", $"band")
  }

  /** Isotonic calibration curve (pool-adjacent-violators) — the standard
    * score→probability calibration (Zadrozny & Elkan 2002's isotonic
    * recipe, public description) a production filter runs between q48's
    * raw marker score and a decision: fit the best NON-DECREASING
    * P(en | score) in least squares. Computed LOOP-FREE via isotonic
    * regression's minimax characterization,
    *   fit(i) = max_{j ≤ i} min_{k ≥ i} (Σ_{j..k} pos / Σ_{j..k} n),
    * which both engines replay as three tiny joins — no PAV loop, no
    * recursion, no driver round-trips. min/max over the interval ratios
    * are ORDER-INDEPENDENT double folds (the output is the ratio value,
    * never an arg — ties collapse), and every interval mean is one IEEE
    * divide of exact integer sums, so the curve hash-compares bitwise.
    *
    * Scale/precondition: the corpus pays ONE grouped count; everything
    * after runs on the score-value census, so the predictor domain must
    * be BOUNDED (marker-hit counts are ≤ per-doc token cap; a continuous
    * score gets bucketed first — the q144/q313 bounded-domain stance).
    * Interval construction is O(B³) rows for B bins — trivial to
    * B ≈ 10³. PAV's mass-conservation law (Σ n·fit = Σ pos) and
    * monotonicity are spec-asserted; a planted violator sequence
    * (0.2, 0.8, 0.4) must pool to (0.2, 0.6, 0.6). */
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val en = MarkerChain.toMap.apply("en")
    val bins = Pinned.pin(Tables.documents(s, dir)
      .select(
        TextOps.markerHits(TextOps.tokens($"text"), en).cast("long").as("x"),
        when($"lang" === "en", 1L).otherwise(0L).as("y"))
      .groupBy($"x")
      .agg(count(lit(1)).as("n"), sum($"y").as("npos"))) // bounded census, read by three joins
    val pairs = broadcast(bins.select($"x".as("j")))
      .join(broadcast(bins.select($"x".as("k"))), $"j" <= $"k")
    val intervals = broadcast(pairs)
      .join(bins.select($"x".as("m"), $"n", $"npos"),
        $"m" >= $"j" && $"m" <= $"k")
      .groupBy($"j", $"k")
      .agg((sum($"npos").cast("double") / sum($"n").cast("double")).as("r"))
    val fit = broadcast(bins.select($"x".as("bx")))
      .join(intervals, $"j" <= $"bx" && $"k" >= $"bx")
      .groupBy($"bx", $"j").agg(min($"r").as("mr"))
      .groupBy($"bx").agg(max($"mr").as("iso_rate"))
    bins.join(broadcast(fit), $"x" === $"bx")
      .select($"x".as("score"), $"n", $"npos",
        ($"npos".cast("double") / $"n".cast("double")).as("raw_rate"),
        $"iso_rate")
      .orderBy($"score")
  }

  /** Weighted PRIORITY SAMPLING with a Horvitz-Thompson total estimator
    * (Duffield-Lund-Thorup 2007) — the weighted, estimator-carrying
    * member of the sampling family: q82/q260 sample uniformly by
    * consistent hash, q84 stratifies; this samples docs with probability
    * ∝ weight (token count — the token-budget coverage question) and
    * ships an UNBIASED estimate of the total weight from the sample
    * alone, which is what makes a 100 TB subsample auditable without a
    * second pass. Determinism: u_i = (hv_i+1)/2²⁴ from the salted md5 of
    * doc_id, priority = w_i·2²⁴/(hv_i+1) — ONE IEEE divide over exact
    * integers per doc (the q195 float contract), identical on both
    * engines; top-(k+1) via orderBy+limit (TakeOrdered — no global
    * sort), τ = the (k+1)-th priority VALUE, sample = the k above it.
    * The HT estimate Σ max(w_i, τ) is NOT summed in floating point:
    * max(w_i, τ) picks w_i exactly when w_i·(hv_τ+1) ≥ w_τ·2²⁴
    * (integer cross-multiplication, exact to 2⁵⁸ for w < 2³⁴), so the
    * estimate collapses to s_big + m·τ — exact integers plus one final
    * 3-op IEEE tree. The sample membership itself is hash-checked via
    * the exact Σ of sampled doc_ids. The ±15 % accuracy flag is
    * MEASURED (q240's class) and frozen by the hash seed: a false flag
    * means a broken estimator, not noise. */
  def prioritySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 150 // measured HT error −6.7 % (sf0.01) / −1.5 % (sf1docs); k=100 ran −14.8 %
    val docs = Tables.documents(s, dir)
      .select($"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("w"),
        (conv(substring(md5(concat(lit("psample:"), $"doc_id".cast("string"))),
          1, 6), 16, 10).cast("long") + 1L).as("hv1"))
      .withColumn("priority",
        $"w".cast("double") * lit(16777216.0) / $"hv1".cast("double"))
    // top-(k+1) — TakeOrderedAndProject, never a global sort; pinned
    // because the tiny result feeds both τ and the sample
    val top = Pinned.partitionedCheckpoint(
      docs.orderBy($"priority".desc, $"doc_id".asc).limit(k + 1), $"doc_id")
    val tau = top.orderBy($"priority".asc, $"doc_id".desc).limit(1)
      .select($"w".as("w_t"), $"hv1".as("hv_t"), $"priority".as("tau"),
        $"doc_id".as("tau_doc"))
    val sample = top.crossJoin(broadcast(tau))
      .filter($"priority" > $"tau" ||
        ($"priority" === $"tau" && $"doc_id" < $"tau_doc"))
    val est = sample.groupBy().agg(
      count(lit(1)).as("n_sample"),
      sum($"doc_id").as("sample_id_sum"),
      // exact integer compare w_i ≥ τ ⟺ w_i·hv_t ≥ w_t·2²⁴
      sum(when($"w" * $"hv_t" >= $"w_t" * lit(16777216L), $"w")
        .otherwise(0L)).as("s_big"),
      sum(when($"w" * $"hv_t" >= $"w_t" * lit(16777216L), 0L)
        .otherwise(1L)).as("m"))
    val totals = docs.agg(count(lit(1)).as("n_corpus"),
      sum($"w").as("true_total_w"))
    est.crossJoin(broadcast(tau.select($"w_t", $"hv_t")))
      .crossJoin(broadcast(totals))
      .select($"n_corpus", $"true_total_w", $"n_sample", $"sample_id_sum",
        $"s_big", $"m",
        ($"s_big".cast("double") + $"m".cast("double") *
          ($"w_t".cast("double") * lit(16777216.0) / $"hv_t".cast("double")))
          .as("ht_estimate"),
        (abs($"s_big".cast("double") + $"m".cast("double") *
          ($"w_t".cast("double") * lit(16777216.0) / $"hv_t".cast("double")) -
          $"true_total_w".cast("double"))
          <= lit(0.15) * $"true_total_w".cast("double")).as("ht_within_15pct"))
  }

  /** 2-D Pareto frontier (skyline) over DOMAIN-BOUNDED metrics — the
    * second member of the skyline pair (Börzsönyi et al. 2001): q169
    * solves the unbounded-domain case (customer spend) with the TwoPass
    * range-partition prefix-max, the general form that must move data;
    * THIS is the fast path when both metrics are domain-bounded (token
    * count, distinct-token count — the multi-objective data-selection
    * question "longest AND most lexically diverse"), where the whole
    * dominance decision collapses to a broadcast census and the corpus
    * is touched exactly once, map-side. The same split exists in the
    * percentile family (q144 bounded-domain exact / q309 narrowing /
    * q73 sketch). The naive form is all-pairs dominance (O(n²) — the
    * oracle's formulation, affordable at fixture scale); the declared
    * plan is census-decomposed: one (x, y) cell census
    * (≤|x-domain|·|y-domain| cells at any corpus size) answers
    * everything —
    *   survive(p) ⟺ p.y = ymax(p.x)  ∧  p.y > max{ymax(x') : x' > p.x},
    * with the strictly-greater-x maximum from a broadcast theta self-join
    * over the ≤|x-domain|-row column census (the q302/q310 bounded-theta
    * idiom — no global window, nothing data-sized past the first census).
    * Each frontier doc also reports how many docs it dominates — the same
    * broadcast cells, one inequality join against the tiny frontier.
    * Scale: ONE corpus scan; the dominance decision ships a
    * kilobyte-sized census. */
  def paretoFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .select($"doc_id", size($"toks").cast("long").as("x"),
        size(array_distinct($"toks")).cast("long").as("y"))
    // bounded (x, y) cell census — pinned: consumed by the column census,
    // the survivors screen, and the dominance counter
    val cells = Pinned.partitionedCheckpoint(
      m.groupBy($"x", $"y").agg(count(lit(1)).as("c")), $"x")
    val colc = cells.groupBy($"x").agg(max($"y").as("ymax"))
    // M>(x) = max ymax over strictly greater x (null at the global max)
    val mgt = colc.as("a")
      .join(broadcast(colc.as("b")), col("b.x") > col("a.x"), "left")
      .groupBy(col("a.x").as("x"), col("a.ymax").as("ymax"))
      .agg(max(col("b.ymax")).as("m_gt"))
    val frontier = m.join(broadcast(mgt), "x")
      .filter($"y" === $"ymax" && ($"m_gt".isNull || $"y" > $"m_gt"))
      .select($"doc_id", $"x", $"y")
    // dominance count: cells strictly below-left (weak on both, strict on
    // one) — frontier is tiny, cells bounded: a broadcast inequality join
    frontier.as("f")
      .join(broadcast(cells.as("q")),
        col("f.x") >= col("q.x") && col("f.y") >= col("q.y") &&
          (col("f.x") > col("q.x") || col("f.y") > col("q.y")), "left")
      .groupBy(col("doc_id"), col("f.x").as("n_tokens"),
        col("f.y").as("n_distinct_tokens"))
      .agg(coalesce(sum(col("q.c")), lit(0L)).as("n_dominated"))
      .orderBy($"doc_id")
  }

  /** Dedup CLUSTER assignment — the stage after candidate generation that
    * q41 stops short of: docs sharing any MinHash-LSH bucket form edges;
    * each connected component is one near-dup cluster, labeled by its
    * minimum doc_id (so a keep-one-per-cluster policy is `doc_id == lab`).
    * Output: one row per multi-doc cluster with its sorted member list.
    *
    * Algorithm: [[Fixpoint.minLabels]] over the EDGE list (candidate
    * pairs only, df-capped by the band scheme — never the corpus); rounds
    * ≤ component diameter, which for LSH bucket graphs is tiny (members
    * of a bucket form a clique, so chains only arise across buckets). The
    * fixpoint IS the oracle-checked contract. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupLabels(s, dir)
      .groupBy($"lab".as("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",", sort_array(collect_list($"node"))).as("members"))
      .filter($"n_docs" >= 2)
      .orderBy($"cluster_id")
  }

  /** The (node, lab) fixpoint of [[dedupClusters]]'s min-label propagation,
    * shared by the cluster census (q76), survivorship (q174) and the
    * leakage-safe split (q328). */
  private def dedupLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE explicit repartition on the bucket key so both self-join sides
    // hang off the same exchange (ReuseExchange — the q43 lesson): the
    // md5 digest pipeline runs once, not once per join side.
    val keyed = lshKeyed(s, dir).repartition($"band", $"bkey")
    val a = keyed.select($"doc_id".as("sa"), $"band", $"bkey")
    val b = keyed.select($"doc_id".as("ta"), $"band".as("band2"), $"bkey".as("bkey2"))
    // directed both ways + self-loops. pairs is pinned once (the first
    // label-sum gate materializes it); nodes/edges/iterations all read
    // the pinned pair list, never the digest pipeline.
    val pairs = Pinned.pin(
      a.join(b, $"band" === $"band2" && $"bkey" === $"bkey2" && $"sa" =!= $"ta")
        .select($"sa".as("src"), $"ta".as("dst")).distinct())
    val nodes = pairs.select($"src").distinct()
    Fixpoint.minLabels(
      pairs.unionByName(nodes.select($"src", $"src".as("dst"))),
      nodes.select($"src".as("node"), $"src".as("lab")))
  }

  /** Cluster SURVIVORSHIP — the keep-one policy applied to q76's near-dup
    * clusters with a real multi-rule tiebreak (keep the LONGEST text,
    * ties to the smallest doc_id), not just min-id: the policy curation
    * teams actually run, because near-dup clusters usually contain one
    * full document and several truncations. Only CLUSTERED docs (a tiny
    * slice of the corpus) join back to documents for their lengths; the
    * rank window partitions by cluster. Output one row per cluster:
    * survivor + how many were removed. */
  def clusterSurvivorship(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = dedupLabels(s, dir)
    val sizes = labels.groupBy($"lab").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)
    val members = labels.join(sizes, "lab")
      .join(Tables.documents(s, dir)
          .select($"doc_id", length($"text").cast("long").as("len")),
        $"node" === $"doc_id")
    val w = Window.partitionBy($"lab").orderBy($"len".desc, $"node".asc)
    members
      .withColumn("rn", row_number().over(w))
      .groupBy($"lab".as("cluster_id"))
      .agg(
        max(when($"rn" === 1, $"node")).as("survivor_doc"),
        max(when($"rn" === 1, $"len")).as("survivor_len"),
        max($"n_docs").as("n_docs"),
        (max($"n_docs") - 1L).as("n_removed"))
      .orderBy($"cluster_id")
  }

  /** SimHash bucketing: 16-bit signature per doc, grouped. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("simhash", TextOps.simhash16($"text"))
      .groupBy($"simhash")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
      .orderBy($"simhash")
  }

  /** n-gram Jaccard near-dup, inverted-index formulation: explode distinct
    * 3-shingles, equi-join on (shingle, block), count common shingles per
    * pair, jac = common / (|A| + |B| - common); top-20 pairs.
    *
    * Only pairs that actually share a shingle are ever materialized —
    * all-pairs-in-block with per-pair array intersection would be O(B²·|sh|)
    * per block and is the thing that does NOT survive a 100× scale-up. At
    * true corpus scale the remaining risk is shingle-frequency skew
    * (boilerplate shingles shared by thousands of docs): one shingle with
    * document frequency f contributes f² join rows, so a boilerplate
    * header shared by 10⁴ docs is quadratic on its own. Guard: a
    * document-frequency cap ([[JaccardDfCap]]) drops hot shingles before
    * the self-join — a shingle that common carries no near-dup signal
    * anyway (it is stopword-like at the shingle level).
    *
    * Plan shape: ONE explicit repartition on the blocking key (block, sh)
    * is the only shuffle of exploded digests; both self-join sides hang
    * off that same exchange, which Catalyst's ReuseExchange dedups — the
    * md5 digest pipeline runs ONCE (the round-1 formulation scanned and
    * digested documents twice). The df cap is a window count over the same
    * partitioning rather than a separate groupBy+semi-join: a groupBy
    * branch gets column-pruned into a non-identical subtree that defeats
    * ReuseExchange and re-runs the digest scan, which an .explain audit of
    * the first attempt showed (ShuffleQueryStage 0 ≠ ReusedExchange). */
  val JaccardDfCap = 100L

  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // explode_outer, not explode: a plain explode lets the optimizer infer
    // `size(dshin) > 0` / `isnotnull(dshin)` and push them below the
    // projection — inlining the whole shingle pipeline into a scan-side
    // Filter where element_at(transform(...md5...), i) re-evaluates the
    // token-digest array per element: O(tokens²) md5 per document. With the
    // outer variant nothing pushes below the Generate; the join's
    // isnotnull(sh) drops the (nonexistent) null rows afterwards.
    val ex = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("th", TextOps.tokenHashes($"toks"))
      .withColumn("dshin", array_distinct(TextOps.shingleHashes3($"th")))
      .withColumn("block",
        concat($"lang", lit("|"), floor($"n_chars" / lit(500)).cast("long").cast("string")))
      .select($"doc_id", $"block", size($"dshin").cast("long").as("nsh"),
        explode_outer($"dshin").as("sh"))
    // the single shuffle of exploded digests; reused by both join sides
    val exRep = ex.repartition($"block", $"sh")
    val wdf = Window.partitionBy($"block", $"sh")
    val ok = exRep
      .withColumn("df", count(lit(1)).over(wdf))
      .filter($"df" <= JaccardDfCap)
      .drop("df")
    val a = ok.select($"doc_id".as("doc1"), $"block", $"nsh".as("nsh1"), $"sh")
    val b = ok.select($"doc_id".as("doc2"), $"block".as("block2"),
      $"nsh".as("nsh2"), $"sh".as("sh2"))
    val ord = Seq($"jac".desc, $"doc1".asc, $"doc2".asc)
    a.join(b, $"sh" === $"sh2" && $"block" === $"block2" && $"doc1" < $"doc2")
      .groupBy($"doc1", $"doc2", $"nsh1", $"nsh2")
      .agg(count(lit(1)).as("common"))
      .withColumn("jac", ratio($"common", $"nsh1" + $"nsh2" - $"common"))
      .select($"doc1", $"doc2", $"jac")
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Embedding near-dup candidates: 8-bit sign-LSH equi-join, cosine on
    * in-bucket pairs only, top-20. */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).withColumn("key", signKey($"embedding", 8))
    val a = e.select($"vec_id".as("vec1"), $"key", $"embedding".as("e1"))
    val b = e.select($"vec_id".as("vec2"), $"key".as("key2"), $"embedding".as("e2"))
    val ord = Seq($"cos".desc, $"vec1".asc, $"vec2".asc)
    a.join(b, $"key" === $"key2" && $"vec1" < $"vec2")
      .withColumn("cos", cosine(s)($"e1", $"e2"))
      .select($"vec1", $"vec2", $"cos")
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Embedding near-dup at scale width: 16-bit keys × 4 disjoint bands
    * (OR-construction, [[VectorOps.signBandKeys]]). The 8-bit single-key
    * variant ([[dedupEmbedding]]) is the readable baseline; THIS is the
    * shape you run at 100 TB — 65k buckets per band keep in-bucket pairing
    * near-linear, and the 4-band OR recovers recall. A pair colliding in
    * several bands is counted once (pair-level groupBy; cos is identical
    * across bands so max = the value). explode_outer, not explode, per the
    * q43 pushdown-inlining lesson. */
  def dedupEmbeddingBanded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding",
        explode_outer(VectorOps.signBandKeys($"embedding", 16, 4)).as("bk"))
      .select($"vec_id", $"embedding", $"bk.band".as("band"), $"bk.key".as("key"))
    val a = e.select($"vec_id".as("vec1"), $"band", $"key", $"embedding".as("e1"))
    val b = e.select($"vec_id".as("vec2"), $"band".as("band2"), $"key".as("key2"),
      $"embedding".as("e2"))
    val ord = Seq($"cos".desc, $"vec1".asc, $"vec2".asc)
    a.join(b, $"band" === $"band2" && $"key" === $"key2" && $"vec1" < $"vec2")
      .withColumn("cos", cosine(s)($"e1", $"e2"))
      .groupBy($"vec1", $"vec2").agg(max($"cos").as("cos"))
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Symmetric per-vector int8 quantization of the embedding column — the
    * storage-efficiency op of a 100 TB embedding store (4 bytes → 1 byte
    * per dimension; scale factor per vector). Everything is a map-side
    * projection: scale = max|x| / 127, q[i] = floor(x/scale + 0.5) — the
    * cents() trick (pure IEEE floor, never round(), whose HALF_UP decimal
    * path differs across engines). The declared output is the quantized
    * range plus the reconstruction cosine between the original vector and
    * its dequantized form, computed by identical op trees in both engines
    * (bit-exact, hash-compared), with `recon_ok` asserting ≥ 0.999 — the
    * q18 pattern; measured minimum across fixture SFs is 0.99994, so the
    * gate only trips on real quantization bugs (sign flips, scale drift).
    * Zero vectors are excluded by the fixture contract (scale guard keeps
    * q defined; the cosine would be 0/0). */
  val QuantizeReconFloor = 0.999

  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val absmax = aggregate(
      transform($"embedding", x => abs(x)), lit(0.0),
      (a, x) => when(x > a, x).otherwise(a))
    val e = Tables.embeddings(s, dir)
      .withColumn("scale",
        when(absmax === 0.0, lit(1.0)).otherwise(absmax / lit(127.0)))
      .withColumn("q",
        transform($"embedding", x => floor(x / $"scale" + lit(0.5)).cast("int")))
      .withColumn("dq", transform($"q", qi => qi * $"scale"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, p) => acc + p)
    e.withColumn("recon_cos",
        dot($"embedding", $"dq") /
          (sqrt(dot($"embedding", $"embedding")) * sqrt(dot($"dq", $"dq"))))
      .select(
        $"vec_id",
        array_min($"q").as("q_min"),
        array_max($"q").as("q_max"),
        $"recon_cos",
        ($"recon_cos" >= lit(QuantizeReconFloor)).as("recon_ok"))
      .orderBy($"vec_id")
  }

  /** Brute-force cosine top-5 for a bounded query set (vec_id < 10): the
    * exact baseline — O(|Q|·N·d), broadcast the small side. */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("vid"), $"embedding".as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    broadcast(q).join(c, $"qid" =!= $"vid")
      .withColumn("cos", cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"qid", $"rn", $"vid", $"cos")
      .orderBy($"qid", $"rn")
  }

  /** LSH-bucketed ANN: same query set, but candidates restricted to the
    * query's 8-bit sign bucket — the scale path (equi-join, no cross). */
  def annLshBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir).withColumn("key", signKey($"embedding", 8))
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"key".as("qkey"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("vid"), $"key", $"embedding".as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    broadcast(q).join(c, $"qkey" === $"key" && $"qid" =!= $"vid")
      .withColumn("cos", cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"qid", $"rn", $"vid", $"cos")
      .orderBy($"qid", $"rn")
  }

  /** IVF centroid assignment, map-side: the 16 centroids are folded into a
    * single sorted array (one bounded ≤32-partial-row shuffle, like
    * CosineTopK's query side), broadcast as ONE row, and each vector picks
    * its argmax-cosine cell inside a single projection — `aggregate` over
    * the centroid array with a (cid, cos) accumulator, strictly-greater
    * replacement so ties keep the lowest cid (identical semantics to the
    * `row_number` formulation it replaces, which shuffled all N candidate
    * rows through a per-vector Window just to rank 16 of them). At 100 TB
    * this is the difference between a full-corpus shuffle and none:
    * assignment cost is O(N·16·d) map-side FLOPs, zero rows move. */
  /** The 16-centroid coarse-quantizer array (1 broadcastable row) — shared
    * by [[ivfAssigned]] and q330's fused encode projection. */
  private def ivfCentsArr(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" < 16)
      .agg(sort_array(collect_list(struct($"vec_id".as("cid"), $"embedding".as("ce"))))
        .as("cents"))
  }

  /** The argmax-cosine cell id of `embedding` against the broadcast
    * `cents` array — [[ivfAssigned]]'s map-side fold as a reusable
    * Column (strictly-greater replacement keeps ties on the lowest
    * cid). */
  private def ivfCidCol(s: SparkSession): Column = {
    import s.implicits._
    aggregate(
      $"cents",
      struct(lit(-1L).as("cid"), lit(Double.NegativeInfinity).as("cos_c")),
      (acc, c) => {
        val cs = cosine(s)($"embedding", c.getField("ce"))
        when(cs > acc.getField("cos_c"),
          struct(c.getField("cid").as("cid"), cs.as("cos_c"))).otherwise(acc)
      }).getField("cid")
  }

  def ivfAssigned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    e.crossJoin(broadcast(ivfCentsArr(e)))
      .withColumn("cid", ivfCidCol(s))
      .select($"vec_id", $"cid", $"embedding")
  }

  /** [[ivfAssigned]] extended to the TOP-2 nearest cells per vector, still
    * entirely map-side: the fold's accumulator keeps two (cid, cos) slots
    * with strictly-greater replacement, so ties keep the lowest cid in both
    * slots — semantics identical to ranking the 16 cells with row_number
    * and taking rnc ≤ 2, without shuffling N·16 rows through a window. */
  def ivfAssignedTop2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val centsArr = e.filter($"vec_id" < 16)
      .agg(sort_array(collect_list(struct($"vec_id".as("cid"), $"embedding".as("ce"))))
        .as("cents"))
    e.crossJoin(broadcast(centsArr))
      .withColumn("best", aggregate(
        $"cents",
        struct(lit(-1L).as("cid1"), lit(Double.NegativeInfinity).as("cos1"),
               lit(-1L).as("cid2"), lit(Double.NegativeInfinity).as("cos2")),
        (acc, c) => {
          val cs = cosine(s)($"embedding", c.getField("ce"))
          when(cs > acc.getField("cos1"),
            struct(c.getField("cid").as("cid1"), cs.as("cos1"),
                   acc.getField("cid1").as("cid2"), acc.getField("cos1").as("cos2")))
            .when(cs > acc.getField("cos2"),
              struct(acc.getField("cid1").as("cid1"), acc.getField("cos1").as("cos1"),
                     c.getField("cid").as("cid2"), cs.as("cos2")))
            .otherwise(acc)
        }))
      .select($"vec_id", $"embedding",
        $"best.cid1".as("cid1"), $"best.cid2".as("cid2"))
  }

  /** Multi-probe IVF ANN (nprobe = 2): the query side probes its TWO
    * nearest cells, the corpus stays indexed by its single home cell —
    * the standard recall/cost dial for IVF indexes (double the candidate
    * cells scanned per query, zero change to the stored index). Measured
    * recall@3 vs q45 exact: 0.97 at every fixture SF, vs 0.93 for
    * single-probe at sf0.001 — the q70 gate carries its floor at 0.9.
    * No candidate dedup is needed: each corpus vector lives in exactly one
    * cell and the two probe cells are distinct. */
  def annIvfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t2 = ivfAssignedTop2(s, dir)
    val q = t2.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        explode(array($"cid1", $"cid2")).as("qcell"))
    val c = t2.select($"vec_id".as("vid"), $"cid1".as("cid"), $"embedding".as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    broadcast(q).join(c, $"qcell" === $"cid" && $"qid" =!= $"vid")
      .withColumn("cos", cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"qid", $"rn", $"vid", $"cos")
      .orderBy($"qid", $"rn")
  }

  /** IVF-style ANN: a fixed coarse quantizer (the first 16 vectors as
    * centroids — deterministic, no iterative k-means), every vector assigned
    * to its nearest centroid cell map-side ([[ivfAssigned]] — broadcast
    * centroid array, zero shuffle), then search probes only the query's
    * cell. The second scale path next to sign-LSH ([[annLshBucketed]]):
    * cells replace the all-pairs cross join with an equi-join on cell id,
    * exactly how a 100 TB index shards — centroid assignment at write time,
    * per-cell partitions at read time. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assigned = ivfAssigned(s, dir)
    val q = assigned.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"cid".as("qcell"), $"embedding".as("qe"))
    val c = assigned.select($"vec_id".as("vid"), $"cid", $"embedding".as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    broadcast(q).join(c, $"qcell" === $"cid" && $"qid" =!= $"vid")
      .withColumn("cos", cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"qid", $"rn", $"vid", $"cos")
      .orderBy($"qid", $"rn")
  }

  /** The same brute-force top-5 as [[annBruteForce]], executed by the
    * custom whole-operator plan (graft.plans.CosineTopK via its
    * SparkStrategy): per-candidate-partition bounded heaps, shuffle only
    * partial top-k rows. Oracle-identical to q45 by construction — the
    * declared pair IS the cross-check that the custom physical operator
    * agrees with the composed join+window formulation. */
  def annCustomTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    graft.plans.SimilarityOps.cosineTopK(
      e.filter($"vec_id" < 10), $"vec_id", $"embedding",
      e, $"vec_id", $"embedding", k = 5)
      .orderBy($"qid", $"rn")
  }

  /** Minimum recall@3 the IVF path ([[annIvf]]) must deliver for the gate
    * to hold. Measured (DuckDB replication, all three fixture SFs):
    * 0.93 / 0.97 / 0.97 at sf0.001 / 0.01 / 0.1 — 0.8 leaves real headroom
    * while still catching any centroid/assignment drift that matters. */
  val AnnIvfRecallFloor = 0.8

  /** Floor for the multi-probe IVF path ([[annIvfMultiprobe]]): measured
    * 0.97 at all three fixture SFs (the probe-2 dial recovers the
    * cell-boundary misses that cap single-probe at 0.93 on sf0.001). */
  val AnnIvfMultiprobeRecallFloor = 0.9

  /** Recall floor for the sign-LSH path ([[annLshBucketed]]). Measured at
    * 0.00–0.03 across all fixture SFs — NOT a bug: the fixture embeddings
    * are isotropic (near-random directions), where a sign-LSH bucket's
    * recall is information-theoretically pinned to ~the fraction of the
    * corpus scanned (measured sweep: 8 bit × 8 band OR-construction gives
    * recall 0.07–0.20 at 3 % candidates; 4 bit × 16 bands 0.87–0.93 at a
    * useless 65 % of the corpus; every config lands on recall ≈ candidate
    * fraction). Sign-LSH only beats that line when the corpus is clustered
    * — real embedding corpora are; this fixture is not. IVF escapes the
    * bound because argmax-cos cell assignment adapts to the data (neighbors
    * correlate through the shared centroid, whatever the geometry), which
    * is why [[annIvf]] is this library's recommended ANN path and carries
    * the real floor. The LSH row is declared with floor 0 so the gate
    * DOCUMENTS the measured property instead of pretending; its row still
    * hash-fails if the bucketing formulation itself drifts (hits/recall are
    * replicated exactly in the oracle). */
  val AnnLshRecallFloor = 0.0

  /** The ANN recall gate: both approximate paths' top-3 joined against the
    * exact brute-force top-3 ([[annBruteForce]]) per query id, aggregated
    * to recall@3 per method, with `recall_ok` asserting each method's
    * declared floor — evaluated in Spark, hard-coded TRUE in the oracle
    * (the q18 pattern), so an LSH-plane or IVF-centroid regression that
    * hurts recall flips the CORRECTNESS hash red even though the
    * approximate queries themselves remain "correct as formulated".
    * Everything here is bounded by the query set (|Q| = 10): the join keys
    * are (method, qid, vid) over ≤ 60 rows a side. */
  def annRecallGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = annBruteForce(s, dir).filter($"rn" <= 3)
      .select($"qid".as("eqid"), $"vid".as("evid"))
    val methods = Seq("ivf", "ivf_probe2", "lsh").toDF("method")
    val approx =
      annLshBucketed(s, dir).select(lit("lsh").as("amethod"), $"qid", $"vid", lit(1L).as("hit"))
        .unionByName(
          annIvf(s, dir).select(lit("ivf").as("amethod"), $"qid", $"vid", lit(1L).as("hit")))
        .unionByName(
          annIvfMultiprobe(s, dir)
            .select(lit("ivf_probe2").as("amethod"), $"qid", $"vid", lit(1L).as("hit")))
    exact.crossJoin(broadcast(methods))
      .join(approx,
        $"method" === $"amethod" && $"eqid" === $"qid" && $"evid" === $"vid", "left")
      .groupBy($"method")
      .agg(
        count(lit(1)).as("n_expected"),
        coalesce(sum($"hit"), lit(0L)).as("hits"))
      .withColumn("recall_at_3", ratio($"hits", $"n_expected"))
      .withColumn("recall_ok",
        when($"method" === "ivf", $"recall_at_3" >= lit(AnnIvfRecallFloor))
          .when($"method" === "ivf_probe2", $"recall_at_3" >= lit(AnnIvfMultiprobeRecallFloor))
          .otherwise($"recall_at_3" >= lit(AnnLshRecallFloor)))
      .select($"method", $"n_expected", $"hits", $"recall_at_3", $"recall_ok")
      .orderBy($"method")
  }

  /** Corpus text statistics per language. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("ntok", size($"toks").cast("long"))
      .withColumn("ndist", size(array_distinct($"toks")).cast("long"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"ntok").as("sum_tokens"),
        sum($"ndist").as("sum_distinct"),
        ratio(sum($"ntok"), count(lit(1))).as("avg_tokens"))
      .orderBy($"lang")
  }

  /** Marker-token language-ID heuristic vs. the metadata label. (Fixture
    * text is synthetic ASCII, so the interesting cases live in the unit
    * tests; the declared query proves the operator end-to-end.) */
  def langId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withMarkerScores(Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text")))
      .withColumn("predicted", markerPredicted("und"))
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  /** Per-document quality scoring: lengths, mean token length, stopword
    * ratio, and a keep flag — all exact-integer-derived. */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Seq("table", "row", "value", "data", "key")
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("ntok", size($"toks").cast("long"))
      .withColumn("nchar", length($"text").cast("long"))
      .withColumn("nosp", length(regexp_replace($"text", " ", "")).cast("long"))
      .withColumn("nstop", TextOps.markerHits($"toks", stop).cast("long"))
      .select(
        $"doc_id", $"ntok", $"nchar",
        ratio($"nosp", $"ntok").as("mean_tok_len"),
        ratio($"nstop", $"ntok").as("stop_ratio"),
        ($"ntok" >= 20 && ratio($"nosp", $"ntok") < lit(6.0)).as("keep"))
      .orderBy($"doc_id")
  }

  /** Document fingerprints: order-insensitive token-set md5 + prefix md5,
    * with the token-set group size (window count). */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"fp_tokenset")
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("fp_tokenset", TextOps.sortedTokenFingerprint($"toks"))
      .withColumn("fp_prefix", md5(substring($"text", 1, 64)))
      .withColumn("fp_group", count(lit(1)).over(w))
      .select($"doc_id", $"fp_tokenset", $"fp_prefix", $"fp_group")
      .orderBy($"doc_id")
  }

  /** Winnowing fingerprint selection census — the MOSS algorithm
    * (Schleimer, Wilkerson & Aiken, "Winnowing: local algorithms for
    * document fingerprinting", SIGMOD 2003): from each window of w=4
    * consecutive 3-token shingle digests keep the RIGHTMOST minimum, and
    * index only those. The guarantee that makes this the code/plagiarism
    * dedup primitive: any shared run of ≥ w+k−1 = 6 tokens shares a full
    * window, hence a selected fingerprint — detection never silently
    * lost — while the index stores ~2/(w+1) of all shingles. That ratio
    * IS the 100 TB story next to q108 (which indexes every shingle):
    * same detection class, ~40 % of the index, and the selection is one
    * doc-keyed window pass over the exploded digest stream (codegen'd
    * WindowExec — see the in-body note on why the array-lambda form is
    * wrong); only SELECTED 8-byte digests reach the df/sharing join
    * (q108's shuffle-join stance, shrunk by the winnow). Census per
    * doc: shingles, selected
    * fingerprints (distinct positions), and how many of its selected
    * digests appear in ≥2 docs' selections. Docs with <w shingles fall
    * back to one whole-list window (still ≥1 fingerprint when any
    * shingle exists); <3 tokens → all-zero row, never dropped. The
    * selection arithmetic is pure integer ops over the portable 40-bit
    * digests, so the oracle replays it exactly. */
  def winnowingCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = 4
    // Selection rides WINDOW FUNCTIONS over the exploded shingle stream,
    // not per-row array lambdas: nested HOFs never codegen and the
    // md5-pipeline column gets inlined into every lambda reference by
    // project collapse — measured as a ~300× per-row recompute on the
    // first (array-based) formulation. The exploded form is the q108
    // shape: ONE doc-keyed exchange, then a single WindowExec computes
    // min/rightmost-pos/frame-count over the [i, i+w-1] frame — all
    // codegen, all per-doc (pid-keyed, plan-hygiene clean).
    // The digest pipeline is interpreted (HOFs never codegen) and MUST
    // run exactly once: repartition the raw text by doc_id first (the
    // fixture ships documents as ONE parquet file, so hashing before an
    // exchange would run single-task — at production scale the scan is
    // file-parallel and this exchange is skippable), hash + explode once
    // on the partitioned stream, then PIN the 8-byte digest rows
    // (doc-keyed) for the three consumers (per-doc census / df table /
    // sharing join). Without the pin each consumer re-evaluates the md5
    // pipeline — measured 3× the whole corpus hash cost; pinning digests
    // (24 B/row) rather than text keeps the pinned footprint trivial.
    // The window's required doc_id distribution is the pin's
    // partitioning — no further exchange. checkpointAsIs (round-15):
    // the explicit repartition below is the placement; generate /
    // project / filter preserve it, so the keyed pin's second
    // repartition was a redundant full-shingle-stream shuffle.
    val sh = Pinned.checkpointAsIs(
      Tables.documents(s, dir).select($"doc_id", $"text")
        .repartition($"doc_id")
        .withColumn("toks", TextOps.tokens($"text"))
        .withColumn("th", TextOps.tokenHashes($"toks"))
        .withColumn("hs", TextOps.shingleHashes3($"th"))
        // posexplode_OUTER, then drop the null row: the non-outer form
        // makes InferFiltersFromGenerate add `size(hs) > 0`, which
        // pushdown rewrites onto the SCAN as one composed predicate —
        // with the token-hash transform inlined 3× PER SHINGLE (no CSE
        // in interpreted eval), measured at ~80 s for 5 000 docs. The
        // outer generator infers nothing; this filter is on generator
        // OUTPUT and cannot sink below it.
        .select($"doc_id", posexplode_outer($"hs"))
        .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"col".as("h"))
        .filter($"h".isNotNull), "doc_id")
    val frame = Window.partitionBy($"doc_id").orderBy($"pos".asc)
      .rowsBetween(Window.currentRow, w - 1)
    // window start i is valid iff a full w-frame fits OR i is the single
    // clamped whole-list window (doc shorter than w shingles); the pick
    // is the RIGHTMOST position achieving the frame minimum (the paper's
    // tie rule). All three measures share one WindowExec.
    // rightmost-min in ONE frame aggregate: min over (h, -pos) structs
    // orders by h then by LARGEST pos — a second window column naming
    // the first (max(when(h===wmin,...))) would read each frame-row's
    // OWN frame min, not this frame's (the nested-window trap)
    val picks = sh
      .withColumn("pk", min(struct($"h", (-$"pos").as("np"))).over(frame))
      .withColumn("nf", count(lit(1)).over(frame))
      .filter($"nf" === w || $"pos" === 1L)
      .select($"doc_id", (-$"pk.np").as("wpick"), $"pk.h".as("wmin"))
      .groupBy($"doc_id", $"wpick", $"wmin")
      .agg(count(lit(1)).as("n_windows_won"))
    val perDoc = picks.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_fingerprints"))
    // distinct selected digests per doc (wpick → wmin is functional, so
    // (doc, wmin) dedup is a doc-partition-preserving agg, no exchange)
    val selHash = picks.groupBy($"doc_id", $"wmin".as("h")).agg(count(lit(1)))
      .select($"doc_id", $"h")
    val dfTab = selHash.groupBy($"h").agg(count(lit(1)).as("df"))
    val shared = selHash.join(dfTab.filter($"df" >= 2), "h")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared_fp"))
    // shingle counts come from the pinned stream too; the raw doc list
    // (no hashing) restores the zero-shingle docs the explode drops
    val shCount = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    Tables.documents(s, dir).select($"doc_id")
      .join(shCount, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .join(shared, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_shingles", lit(0L)).as("n_shingles"),
        coalesce($"n_fingerprints", lit(0L)).as("n_fingerprints"),
        coalesce($"n_shared_fp", lit(0L)).as("n_shared_fp"))
      .orderBy($"doc_id")
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex segmentation. */
  def tokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    Tables.documents(s, dir)
      .select(
        $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ws_tokens"),
        regexp_count($"text", lit(pat)).cast("long").as("bpe_tokens"),
        length($"text").cast("long").as("chars"))
      .orderBy($"doc_id")
  }

  /** Tokenizer fertility per language — the multilingual-pretraining
    * budgeting table: how many BPE-ish subtokens a language pays per
    * whitespace word (fertility) and per character. High-fertility
    * languages are under-served by a tokenizer, and corpus mixture math
    * is done in TOKENS, not documents, so this census is the first thing
    * a data-mixture owner asks for. All sums are exact integers; the two
    * rates are one IEEE divide each. One map-side collapse to ≤|langs|
    * rows — scan-speed at any corpus size. */
  def tokenFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    Tables.documents(s, dir)
      .select($"lang",
        size(TextOps.tokens($"text")).cast("long").as("w"),
        regexp_count($"text", lit(pat)).cast("long").as("t"),
        length($"text").cast("long").as("c"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"w").as("sum_words"),
        sum($"t").as("sum_tokens"), sum($"c").as("sum_chars"))
      .select($"lang", $"n_docs", $"sum_words", $"sum_tokens", $"sum_chars",
        ratio($"sum_tokens", $"sum_words").as("fertility"),
        ratio($"sum_chars", $"sum_tokens").as("chars_per_token"))
      .orderBy($"lang")
  }

  /** MinHash estimator accuracy as a MEASURED contract (the q70
    * recall-gate pattern applied to q41's sketch): for every LSH
    * candidate pair, the 12-component signature agreement m/12 next to
    * the EXACT distinct-shingle Jaccard c/(n1+n2−c) — the two numbers
    * the MinHash literature says should agree in expectation, here
    * hash-compared per pair. Both scores are one IEEE divide over exact
    * integers (signature match count via zip_with, set intersection via
    * array_intersect — set semantics in both engines). Scale: the sig
    * pipeline is computed ONCE and pinned (read by band explode + both
    * pair sides); candidates come from the same 4×3 banding as
    * q41/q76 — bucket fan-out bounded by real near-dup cluster sizes
    * (the df-capped variant of this candidate join is q43's). */
  def minhashAccuracyGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Pinned.pin(Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .filter(size($"toks") >= 3) // q41's shingle-less guard, same reason
      .withColumn("th", TextOps.tokenHashes($"toks"))
      .withColumn("hs", TextOps.shingleHashes3($"th"))
      .select($"doc_id", array_distinct($"hs").as("dsh"),
        TextOps.minhashSignature($"hs", 12).as("sig"))) // read by bands + both pair sides
    val keyed = base
      .select($"doc_id", explode(TextOps.lshBands($"sig", 4, 3)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.bkey".as("bkey"))
    val cand = keyed.select($"doc_id".as("doc1"), $"band", $"bkey")
      .join(keyed.select($"doc_id".as("doc2"), $"band".as("b2"), $"bkey".as("k2")),
        $"band" === $"b2" && $"bkey" === $"k2" && $"doc1" < $"doc2")
      .select($"doc1", $"doc2").distinct()
    cand
      .join(base.select($"doc_id".as("doc1"), $"dsh".as("dsh1"), $"sig".as("sig1")), "doc1")
      .join(base.select($"doc_id".as("doc2"), $"dsh".as("dsh2"), $"sig".as("sig2")), "doc2")
      .select($"doc1", $"doc2",
        expr("size(filter(zip_with(sig1, sig2, (a, b) -> a = b), x -> x))")
          .cast("long").as("match_k"),
        size(array_intersect($"dsh1", $"dsh2")).cast("long").as("common"),
        size($"dsh1").cast("long").as("n1"),
        size($"dsh2").cast("long").as("n2"))
      .select($"doc1", $"doc2", $"match_k", $"common", $"n1", $"n2",
        ratio($"match_k", lit(12L)).as("est_jac"),
        ratio($"common", $"n1" + $"n2" - $"common").as("exact_jac"))
      .orderBy($"doc1", $"doc2")
  }

  /** Deterministic corpus shuffle — the RNG-free global permutation every
    * training run needs: total-order the corpus by a cryptographic hash
    * of the stable id (md5 — identical bytes in any engine, any run, any
    * partitioning), which is exactly what `ORDER BY rand()` pretends to
    * do but reproducibly. At scale the order is realized as a range
    * partition on the hash key — a distributed sort with no RNG and no
    * single reducer. The DECLARED output is the interleaving-quality
    * census: 16 hash-prefix buckets × language, with each bucket's first
    * (hash, id) member — uniform language mix per bucket is the shuffle's
    * goal (decorrelate adjacent examples), and the census is
    * 16×|langs| rows at any corpus size. */
  def deterministicShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        md5(concat(lit("shuf:"), $"doc_id".cast("string"))).as("hkey"))
      .withColumn("bucket", substring($"hkey", 1, 1))
      .groupBy($"bucket", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        min(concat($"hkey", lit(":"), $"doc_id".cast("string")))
          .as("first_member"))
      .orderBy($"bucket", $"lang")
  }

  /** PII scrub as a DECLARED query (the operator itself lives in
    * [[TextOps.scrubPii]]): the fixture corpus deliberately contains no
    * PII, so the query synthesizes adversarial text from fixture columns —
    * an email, a URL, and a long digit run per customer row — and scrubs
    * it; the oracle rebuilds the same string and applies the same three
    * regexp_replace chains (identical Java-regex/RE2-portable patterns).
    * Converts the PII row from spec-only to oracle-checked. Per-row
    * projection; scan-speed at any scale. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .withColumn("raw", concat(
        lit("contact "), $"c_name",
        lit(" at user"), $"c_custkey".cast("string"), lit("@example.com"),
        lit(" or https://ex.com/p/"), $"c_custkey".cast("string"),
        lit(" ref "), lpad($"c_custkey".cast("string"), 9, "7")))
      .select($"c_custkey", $"raw", TextOps.scrubPii($"raw").as("scrubbed"))
      .orderBy($"c_custkey")
  }

  /** tf-idf top-3 terms per doc (df over the whole corpus, output bounded
    * to doc_id < 50). idf is the exact ratio N/df to stay libm-free. */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val terms = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
      .filter($"doc_id" < 50)
      .withColumn("score",
        $"tf".cast("double") * ($"n_docs".cast("double") / $"df".cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"doc_id", $"rn", $"term", $"tf", $"df", $"score")
      .orderBy($"doc_id", $"rn")
  }

  /** Repetition-based quality signals (the Gopher-rule family): per doc,
    * the fraction of bigram mass held by the single most frequent bigram
    * (`top_bigram_frac`) and the fraction of trigrams that are repeats of
    * an earlier trigram (`dup_trigram_frac`); `rep_ok` applies the filter
    * thresholds. Trigram dup-frac is ENTIRELY map-side (array_distinct on
    * the per-row digest array — nothing shuffles); the top-bigram count is
    * the one inherently-grouped metric, and it shuffles only (doc_id,
    * 40-bit bigram digest) pairs with map-side partial aggregation — never
    * text. explode_outer, not explode: a non-outer generator lets the
    * optimizer infer `size(bgs) > 0` and push the whole digest pipeline
    * into a scan-side Filter (the q43 O(tokens²) trap), and it would also
    * silently drop sub-2-token docs from the census. */
  def qualityRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pre = Tables.documents(s, dir)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("n_tok", size($"th").cast("long"))
      .withColumn("tgs", TextOps.shingleHashes3($"th"))
      .withColumn("n_tg", size($"tgs").cast("long"))
      .withColumn("n_tg_dist", size(array_distinct($"tgs")).cast("long"))
      .select($"doc_id", $"n_tok", $"n_tg", $"n_tg_dist",
        explode_outer(TextOps.shingleHashes2($"th")).as("bg"))
    pre.groupBy($"doc_id", $"bg")
      .agg(max($"n_tok").as("n_tok"), max($"n_tg").as("n_tg"),
        max($"n_tg_dist").as("n_tg_dist"),
        count(when($"bg".isNotNull, lit(1))).as("cnt"))
      .groupBy($"doc_id")
      .agg(max($"n_tok").as("n_tok"), max($"n_tg").as("n_tg"),
        max($"n_tg_dist").as("n_tg_dist"), max($"cnt").as("top_bigram_cnt"))
      .withColumn("n_bg", greatest($"n_tok" - 1L, lit(0L)))
      .withColumn("top_bigram_frac",
        when($"n_bg" > 0, ratio($"top_bigram_cnt", $"n_bg")).otherwise(lit(0.0)))
      .withColumn("dup_trigram_frac",
        when($"n_tg" > 0, ratio($"n_tg" - $"n_tg_dist", $"n_tg")).otherwise(lit(0.0)))
      .withColumn("rep_ok",
        $"top_bigram_frac" <= lit(0.2) && $"dup_trigram_frac" <= lit(0.5))
      .select($"doc_id", $"n_tok", $"top_bigram_cnt", $"top_bigram_frac",
        $"dup_trigram_frac", $"rep_ok")
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test split: bucket = 40-bit md5 digest of the
    * doc id mod 100 → 90/5/5. The split is a pure per-row projection — no
    * shuffle, no RNG, no seed to lose: the same doc lands in the same split
    * on every engine, every rerun, every backfill, which is the property a
    * training pipeline needs (TABLESAMPLE and rand(seed) both break under
    * re-partitioning). The census aggregates per split; the global-frame
    * window for `frac` runs AFTER the groupBy, over at most three rows —
    * the single-partition WindowExec warning it triggers is about those
    * three post-agg rows, not the corpus. */
  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wAll = Window.partitionBy()
    Tables.documents(s, dir)
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when($"bucket" < 90, "train").when($"bucket" < 95, "val").otherwise("test"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .withColumn("frac", ratio($"n_docs", sum($"n_docs").over(wAll)))
      .select($"split", $"n_docs", $"frac", $"sum_chars", $"min_doc", $"max_doc")
      .orderBy($"split")
  }

  /** Token count per training chunk. */
  val ChunkSize = 32
  /** Stride between chunk starts (overlap = ChunkSize - ChunkStride). */
  val ChunkStride = 24

  /** Overlapping token-window chunking — the doc→training-sample explosion
    * step of a pretraining pipeline: fixed 32-token windows every 24 tokens
    * (8-token overlap so no boundary context is lost). Chunk count is
    * closed-form integer math (1 + ceil((n-size)/stride), exact in BIGINT
    * on both engines via `div`), chunk extraction is a per-row array slice:
    * the whole operator is map-side projection + generator — zero shuffle
    * at any corpus size; only the declared total ORDER BY sorts. */
  def chunkOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val size_ = lit(ChunkSize.toLong)
    val stride = lit(ChunkStride.toLong)
    Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("n_chunks",
        when($"n_tok" <= size_, lit(1L))
          .otherwise(lit(1L) + expr(
            s"(n_tok - ${ChunkSize} + ${ChunkStride - 1}) div ${ChunkStride}")))
      .select($"doc_id", $"toks", $"n_tok",
        explode_outer(sequence(lit(0L), $"n_chunks" - 1L)).as("chunk_idx"))
      .withColumn("chunk_start", $"chunk_idx" * stride)
      .withColumn("chunk_toks",
        slice($"toks", ($"chunk_start" + 1L).cast("int"), lit(ChunkSize)))
      .select($"doc_id", $"chunk_idx", $"chunk_start",
        size($"chunk_toks").cast("long").as("n_chunk_toks"),
        concat_ws(" ", $"chunk_toks").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Deterministic stratified sample: 10 docs per language, chosen by
    * md5-digest order — a reproducible "random" sample (the digest is
    * uniform over doc ids but fixed across engines/reruns/partitionings,
    * which rand(seed) is not). WindowGroupLimit keeps it top-k-shaped:
    * per-partition partial top-10 per lang, only survivors shuffle. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"hkey".asc, $"doc_id".asc)
    Tables.documents(s, dir)
      .withColumn("hkey",
        conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10).cast("long"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"lang", $"rn", $"doc_id", $"hkey")
      .orderBy($"lang", $"rn")
  }

  /** Weight cap for priority sampling: keeps w * 2^40 inside BIGINT
    * (2^22 * 2^40 = 2^62) — a documented precondition, not a tuning knob. */
  val WeightCap = 1L << 22

  /** Deterministic WEIGHTED sampling without replacement — priority
    * sampling (Duffield–Lund–Thorup): each doc gets priority w/u for a
    * uniform u, and the k largest priorities are the sample, so selection
    * probability scales with weight (here n_chars: longer docs are likelier
    * to be drawn, the usual byte-budget view of a corpus). Instead of rand(),
    * u is the q82/q84 40-bit md5 digest of the doc id discretized to
    * (d+1)/2^40, and the priority is the *integer* floor of w·2^40/(d+1) —
    * exact BIGINT arithmetic on both engines (weights capped at 2^22 so
    * the product stays under 2^62), ties broken by doc_id. No FP, no RNG:
    * the same doc set is drawn on every engine, rerun, and partitioning —
    * rand(seed) guarantees none of those. Top-10 per lang plans as
    * WindowGroupLimit: per-partition partial top-k, only survivors
    * shuffle — the same linear shape at 100 TB as q84's unweighted form. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy($"prio".desc, $"doc_id".asc)
    Tables.documents(s, dir)
      .withColumn("hkey",
        conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10).cast("long"))
      .withColumn("wt", least($"n_chars", lit(WeightCap)))
      .withColumn("prio", expr(s"(wt * ${1L << 40}L) div (hkey + 1L)"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"lang", $"rn", $"doc_id", $"n_chars", $"prio")
      .orderBy($"lang", $"rn")
  }

  /** One-pass corpus profile — the data-quality census a pipeline runs
    * before training: row count, per-column null counts, value extents,
    * and exact distinct cardinalities, all in ONE aggregate over one scan.
    * Multiple COUNT(DISTINCT) in a single agg is its own plan shape:
    * Catalyst rewrites it to an Expand (one row replica per distinct
    * branch) followed by two hash aggregates — the replication factor is
    * the number of distinct columns (3 here), partial aggregation still
    * collapses each scan partition to its local distinct values before
    * anything shuffles, so the shape stays linear at 100 TB. Null counts
    * ride along as codegen'd conditional sums on the same pass; nothing
    * rescans. */
  def profileCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def nulls(c: Column): Column = sum(when(c.isNull, 1L).otherwise(0L))
    Tables.documents(s, dir).agg(
      count(lit(1)).as("n_rows"),
      countDistinct($"doc_id").as("n_distinct_docs"),
      countDistinct($"lang").as("n_distinct_langs"),
      countDistinct($"source").as("n_distinct_sources"),
      nulls($"text").as("n_null_text"),
      nulls($"lang").as("n_null_lang"),
      min($"n_chars").as("min_chars"),
      max($"n_chars").as("max_chars"),
      sum($"n_chars").as("sum_chars"),
      min($"doc_id").as("min_doc"),
      max($"doc_id").as("max_doc"))
  }

  /** Benchmark decontamination — the pipeline stage that removes eval-set
    * leakage from training data: a train doc is contaminated when it shares
    * 3-token shingles with any doc in the held-out split. Splits reuse the
    * q82 hash-split buckets (train <90, eval >=95) so the contamination
    * relation is deterministic. The overlap is an inverted-index equi-join
    * on 61-bit shingle digests — never doc×doc pairs: the eval side
    * collapses to its DISTINCT digest set first (at 100 TB the eval split
    * is benchmarks, i.e. tiny, so the distinct digest set broadcasts and
    * the train side never shuffles at all — digest probe is map-side).
    * explode_outer, not explode: a non-outer generator lets the optimizer
    * infer `size(shs) > 0` and re-derive the whole digest pipeline as a
    * scan-side Filter (the q43 O(tokens²) trap); the inner join drops the
    * null rows explode_outer emits for shingle-less docs. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def shingled = Tables.documents(s, dir)
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10)
          .cast("long") % 100)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("shs", array_distinct(TextOps.shingleHashes3($"th")))
    val evalDigests = shingled.filter($"bucket" >= 95)
      .select(explode_outer($"shs").as("sh"))
      .filter($"sh".isNotNull).distinct()
    val train = shingled.filter($"bucket" < 90)
      .select($"doc_id", size($"shs").cast("long").as("n_shingles"),
        explode_outer($"shs").as("sh"))
    train.join(broadcast(evalDigests), "sh")
      .groupBy($"doc_id")
      .agg(max($"n_shingles").as("n_shingles"), count(lit(1)).as("n_overlap"))
      .withColumn("contam_frac", ratio($"n_overlap", $"n_shingles"))
      .withColumn("flagged", $"contam_frac" >= lit(0.1))
      .select($"doc_id", $"n_shingles", $"n_overlap", $"contam_frac", $"flagged")
      .orderBy($"doc_id")
  }

  /** Cluster count for [[kmeansClusters]]. */
  val KmeansK = 8

  /** Deterministic k-means over int8-quantized embeddings — the semantic
    * clustering step of embedding-based curation (cluster the corpus, then
    * dedup/prune within clusters). Everything is exact integer arithmetic
    * so the result is bit-identical across engines, reruns, and
    * partitionings — no RNG, no FP accumulation:
    *
    *   - vectors land on the int8 grid via q78's portable quantization;
    *   - seeds are the first K vectors (deterministic init);
    *   - assignment codes are `sqdist·K + cluster` in BIGINT — the argmin
    *     is a single integer `least(...)`, distance ties broken toward the
    *     smaller cluster id by construction;
    *   - centroid update snaps means back to the grid with the exact
    *     floor((2·Σx+n)/2n) rounding (the IEEE-divide-then-floor trick is
    *     bit-stable cross-engine, q73's idiv precedent), so the next
    *     round's distances stay integer.
    *
    * Scale shape: each assignment is a map-side projection against a
    * broadcast 1-row centroid pivot (zero corpus shuffle — the q53 IVF
    * pattern); each update is a (cluster, dim) hash agg whose partials
    * collapse to ≤ K·64 rows per partition before the shuffle. Two Lloyd
    * rounds are unrolled here; a production run loops the same two plan
    * shapes to convergence. Empty clusters drop out of the pivot as nulls
    * and `least` skips them in both engines. */
  /** Second-round Lloyd assignment `(vec_id, q, cluster, sqdist)` — the
    * shared core of [[kmeansClusters]] (census) and [[semdedupPrune]]
    * (within-cluster near-dup pass). */
  def kmeansAssigned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Persist the quantized corpus: (a) standard iterative-ML practice —
    // every Lloyd round and every broadcast subtree reads the cached int8
    // arrays instead of re-quantizing floats; (b) the materialization is a
    // projection barrier, so CollapseProject cannot inline the
    // quantization into the K distance expressions (the q41/q42
    // expensive-expression-duplication trap). Quantization itself is the
    // native one-pass kernel (graft_quantize_i8) — the chained-HOF form
    // measured 0.6 ms/vector interpreted, 11.7 s of the sf1 cold build.
    // CacheManager dedups by plan equality, so repeated invocations share
    // one entry rather than accreting copies.
    val qv = Tables.embeddings(s, dir)
      .select($"vec_id", VectorOps.quantizeI8(s)($"embedding").as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lloydAssign2(s, qv, KmeansK)
  }

  /** Two unrolled Lloyd rounds over a `(vec_id, q: array<int>)` table for
    * `k` clusters — the shared kernel of [[kmeansAssigned]] (full
    * 64-dim vectors, q109/q110) and [[pqCodebookCensus]] (32-dim PQ
    * subspaces, q300). Same deterministic contract as always: first-k
    * seeds, integer `sqdist·k + cluster` argmin codes, grid-snapped
    * centroid update. Returns `(vec_id, q, cluster, sqdist)`. */
  // centroid rows (cluster, m) → one broadcastable row of K array columns
  private def lloydPivotCents(k: Int, cdf: DataFrame): DataFrame = {
    import cdf.sparkSession.implicits._
    cdf.groupBy().agg(
      max(when($"cluster" === 0, $"m")).as("m0"),
      (1 until k).map(j => max(when($"cluster" === j, $"m")).as(s"m$j")): _*)
  }
  // native codegen sqdist kernel (graft_ivec_sqdist): the HOF form is
  // CodegenFallback and measured ~40× slower here, K evaluations per row
  private def lloydAssignWith(
      s: SparkSession, qv: DataFrame, k: Int, cents: DataFrame): DataFrame = {
    import s.implicits._
    def codeFor(j: Int): Column =
      VectorOps.sqDistI(s)($"q", col(s"m$j")) * lit(k.toLong) + lit(j.toLong)
    qv.crossJoin(broadcast(cents))
      .withColumn("code", least((0 until k).map(codeFor): _*))
      .withColumn("cluster", pmod($"code", lit(k.toLong)).cast("int"))
      .withColumn("sqdist",
        (($"code" - pmod($"code", lit(k.toLong))).cast("double")
          / lit(k.toDouble)).cast("long"))
  }
  private def lloydUpdate(a: DataFrame): DataFrame = {
    import a.sparkSession.implicits._
    a.select($"cluster", posexplode($"q").as(Seq("pos", "x")))
      .groupBy($"cluster", $"pos")
      .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      .withColumn("mi",
        floor((lit(2.0) * $"sx" + $"n") / (lit(2.0) * $"n")).cast("int"))
      .groupBy($"cluster")
      .agg(transform(sort_array(collect_list(struct($"pos", $"mi"))),
        e => e.getField("mi")).as("m"))
  }
  /** The trained pivot after two Lloyd rounds — the 1-row (m0..m{k−1})
    * centroid table itself, exposed for consumers that need the CODEBOOK
    * and not just assignments (q330's ADC distance tables). */
  private def lloydFinalPivot(s: SparkSession, qv: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val c0 = qv.filter($"vec_id" < k)
      .select($"vec_id".cast("int").as("cluster"), $"q".as("m"))
    lloydPivotCents(k,
      lloydUpdate(lloydAssignWith(s, qv, k, lloydPivotCents(k, c0))))
  }
  private def lloydAssign2(s: SparkSession, qv: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    lloydAssignWith(s, qv, k, lloydFinalPivot(s, qv, k))
      .select($"vec_id", $"q", $"cluster", $"sqdist")
  }

  def kmeansClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansAssigned(s, dir)
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        sum($"sqdist").as("sum_sqdist"),
        min($"vec_id").as("min_vec"))
      .orderBy($"cluster")
  }

  /** Sub-codebook size per PQ subspace: 4 centroids × 2 subspaces →
    * 16 possible product codes, each vector stored as 2 codes (4 bits)
    * instead of 64 int8 components — the 64× compression that makes
    * billion-vector ANN indexes fit in RAM. */
  val PqK = 4

  /** Product-quantization codebook census — the PQ training + encode
    * step of IVF-PQ ANN indexes (Jégou et al.'s product quantization,
    * public description; the FAISS index family): split each int8
    * vector into 2 independent 32-dim subspaces, train a deterministic
    * [[PqK]]-centroid sub-codebook per subspace with the SAME two-round
    * Lloyd kernel q109 uses ([[lloydAssign2]] — first-k seeds, integer
    * argmin codes, grid-snapped updates, bit-identical cross-engine),
    * and encode every vector as the product code c₁·K + c₂. Output is
    * the per-code census: population, total sub-quantization error
    * (the Σ of both subspace sqdists — PQ's additive-distance property
    * as a checked quantity), and the min member id. Scale: the corpus
    * is quantized ONCE (cache shared with q109 by plan identity);
    * per subspace each Lloyd round is a map-side projection against a
    * broadcast centroid pivot + a (cluster, dim) hash agg — zero
    * corpus shuffle until the ≤K² -row census; the code join is
    * vec_id-keyed. */
  def pqCodebookCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qv = Tables.embeddings(s, dir)
      .select($"vec_id", VectorOps.quantizeI8(s)($"embedding").as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a1 = lloydAssign2(s, qv.select($"vec_id", slice($"q", 1, 32).as("q")), PqK)
      .select($"vec_id", $"cluster".as("c1"), $"sqdist".as("d1"))
    val a2 = lloydAssign2(s, qv.select($"vec_id", slice($"q", 33, 32).as("q")), PqK)
      .select($"vec_id", $"cluster".as("c2"), $"sqdist".as("d2"))
    a1.join(a2, "vec_id")
      .withColumn("pq_code", $"c1" * PqK + $"c2")
      .groupBy($"pq_code")
      .agg(count(lit(1)).as("n_members"),
        sum($"d1" + $"d2").as("sum_sqdist"),
        min($"vec_id").as("min_vec"))
      .orderBy($"pq_code")
  }

  /** PQ subspace count for q330's ADC search — FAISS's `m` parameter at
    * its stock value for 64-dim vectors: 8 subspaces × 8 dims. q300's
    * 2×32 split demonstrates the codebook TRAINING; search needs the
    * finer split because ADC's distance resolution grows with m (here
    * [[PqK]]⁸ = 65 536 product codes vs q300's 16 — enough for the
    * shortlist ranking to be informative even on the isotropic
    * fixture). */
  val PqAdcM = 8
  private val PqAdcDim = 8

  /** ADC shortlist size per query: the code-only ranking keeps this many
    * candidates per query for the exact re-rank — the standard IVF-PQ
    * accuracy/cost dial next to nprobe. 50 measured 0.80 recall at
    * sf0.1 (zero headroom against [[IvfPqRecallFloor]] — the q291
    * margin lesson); 100 recovers the cell-recall ceiling. */
  val AdcShortlistK = 100

  /** Minimum recall@3 (vs q45's exact brute force) the composed IVF-PQ
    * path must deliver. Measured 0.93 / 0.97 / 0.97 at sf0.001 / 0.01 /
    * 0.1 — the single-probe cell recall (q53's 0.93–0.97) is the
    * ceiling, and the 100-candidate shortlist reaches it at every
    * fixture SF, so 0.8 leaves ≥0.13 headroom while catching codebook /
    * assignment / ADC-lookup drift. */
  val IvfPqRecallFloor = 0.8

  /** IVF-PQ composed ADC top-k search — the operator a production vector
    * store actually runs (the FAISS IVF-PQ index family; Jégou et al.'s
    * asymmetric distance computation, public descriptions): q53's coarse
    * quantizer picks the cell, q300's Lloyd kernel trains [[PqAdcM]]
    * per-subspace codebooks, every corpus vector is stored as 8 2-bit
    * codes, and search ranks candidates WITHOUT touching their vectors —
    * per query one [[PqK]]-entry integer distance table per subspace
    * (32 exact BIGINT sqdists on the int8 grid), candidate distance =
    * Σ_m dt_m[c_m], an 8-lookup add. The ADC top-[[AdcShortlistK]]
    * shortlist then re-ranks EXACTLY (raw-vector cosine, q45's op tree)
    * and emits top-3 — shortlist-then-rerank is the production shape.
    * Scale: training is 8 broadcast-pivot Lloyd chains over the cached
    * int8 corpus (a real store trains on a bounded sample — the kernel
    * is sample-size-agnostic); ENCODING is one map-side projection (all
    * 8 codes against one broadcast codebook row, zero shuffle); search
    * shuffles only the per-query shortlist (WindowGroupLimit caps each
    * map task at 50 rows per query before the exchange), and the re-rank
    * fetches ≤|Q|·50 vectors by broadcast join — the corpus is never
    * shuffled and raw vectors never ride the ADC stream. Recall\@3 vs
    * the exact baseline rides the output as the q70 contract boolean
    * (floor [[IvfPqRecallFloor]], literal TRUE in the oracle). */
  /** All [[PqAdcM]] sub-codebooks trained in ONE fused two-round Lloyd —
    * the per-subspace math is exactly [[lloydFinalPivot]]'s (first-k
    * seeds, integer argmin codes, grid-snapped update; the q330 oracle
    * replays each subspace through the same [[pqPipeSql]] pipeline), but
    * the execution fuses the 8 independent chains: ONE seed pivot, ONE
    * round-1 assignment projection computing all 8 cluster ids, ONE
    * posexplode+agg computing all 8 grid-snapped updates (subspace =
    * pos div 8 recovers which codebook a dimension belongs to), ONE
    * final pivot. 2 corpus passes instead of 16 — measured 5.9 s → see
    * PLANS at sf0.1. Returns the 1-row broadcastable codebook
    * (s{m}_m{j} array columns). */
  private def pqAdcCodebooks(s: SparkSession, qv: DataFrame): DataFrame = {
    import s.implicits._
    val k = PqK
    def subCol(m: Int): Column = slice($"q", m * PqAdcDim + 1, PqAdcDim)
    def pivotAgg(cm: (Int, Int) => Column): DataFrame => DataFrame = df => {
      val cols = for (m <- 0 until PqAdcM; j <- 0 until k)
        yield cm(m, j).as(s"s${m}_m$j")
      df.groupBy().agg(cols.head, cols.tail: _*)
    }
    val cents0 = pivotAgg((m, j) =>
      max(when($"vec_id" === j, subCol(m))))(qv.filter($"vec_id" < k))
    def codeCol(m: Int): Column = pmod(
      least((0 until k).map(j =>
        VectorOps.sqDistI(s)(subCol(m), col(s"s${m}_m$j"))
          * lit(k.toLong) + lit(j.toLong)): _*),
      lit(k.toLong)).cast("int")
    val a1 = qv.crossJoin(broadcast(cents0))
      .select($"q", array((0 until PqAdcM).map(codeCol): _*).as("cl"))
    pivotAgg((m, j) => max(when($"m" === m && $"cluster" === j, $"cm")))(
      a1.select($"cl", posexplode($"q").as(Seq("pos", "x")))
        .withColumn("m", ($"pos" / lit(PqAdcDim)).cast("int"))
        .withColumn("inpos", pmod($"pos", lit(PqAdcDim)))
        .withColumn("cluster", element_at($"cl", $"m" + 1))
        .groupBy($"m", $"cluster", $"inpos")
        .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
        .withColumn("mi",
          floor((lit(2.0) * $"sx" + $"n") / (lit(2.0) * $"n")).cast("int"))
        .groupBy($"m", $"cluster")
        .agg(transform(sort_array(collect_list(struct($"inpos", $"mi"))),
          e => e.getField("mi")).as("cm")))
  }

  def annIvfPqAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE persisted enriched corpus (raw + int8): the projection barrier
    // that stops CollapseProject from inlining the quantization into the
    // 32 code-distance expressions (the q41/q42 duplication trap), and
    // the single cached scan every downstream pass reads.
    val enriched = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding",
        VectorOps.quantizeI8(s)($"embedding").as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def subCol(m: Int): Column = slice($"q", m * PqAdcDim + 1, PqAdcDim)
    // 8 trained sub-codebooks fused into ONE broadcastable row
    val cents = pqAdcCodebooks(s, enriched.select($"vec_id", $"q"))
    // encode + coarse-assign FUSED: all 8 PQ codes AND the IVF cell in
    // one map-side projection over the cached corpus — zero joins, the
    // write-time shape of a real index build.
    def codeCol(m: Int): Column = pmod(
      least((0 until PqK).map(j =>
        VectorOps.sqDistI(s)(subCol(m), col(s"s${m}_m$j"))
          * lit(PqK.toLong) + lit(j.toLong)): _*),
      lit(PqK.toLong)).cast("int")
    val cands = enriched
      .crossJoin(broadcast(ivfCentsArr(enriched.select($"vec_id", $"embedding"))))
      .crossJoin(broadcast(cents))
      .select(($"vec_id".as("vid") +: ivfCidCol(s).as("cid") +:
        (0 until PqAdcM).map(m => codeCol(m).as(s"c$m"))): _*)
    // query side (bounded |Q| = 10, cached scan): home cell + the 8 ADC
    // distance tables (4 exact BIGINTs each)
    val queries = enriched.filter($"vec_id" < 10)
      .crossJoin(broadcast(ivfCentsArr(enriched.select($"vec_id", $"embedding"))))
      .crossJoin(broadcast(cents))
      .select(($"vec_id".as("qid") +: ivfCidCol(s).as("qcell") +:
        (0 until PqAdcM).map(m =>
          array((0 until PqK).map(j =>
            VectorOps.sqDistI(s)(subCol(m), col(s"s${m}_m$j"))): _*)
            .as(s"dt$m"))): _*)
    val w50 = Window.partitionBy($"qid").orderBy($"adc".asc, $"vid".asc)
    val shortlist = broadcast(queries)
      .join(cands, $"qcell" === $"cid" && $"qid" =!= $"vid")
      .withColumn("adc", (0 until PqAdcM).map(m =>
        element_at(col(s"dt$m"), col(s"c$m") + 1)).reduce(_ + _))
      .withColumn("rn50", row_number().over(w50))
      .filter($"rn50" <= AdcShortlistK)
      .select($"qid", $"vid", $"adc")
    // exact re-rank of the bounded shortlist: fetch vectors by broadcast
    val w3 = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    // ≤30 rows, read by the output AND the recall agg
    val top3 = Pinned.pin(broadcast(shortlist)
      .join(enriched.select($"vec_id".as("vid"), $"embedding".as("ve")), "vid")
      .join(broadcast(enriched.filter($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qe"))), "qid")
      .withColumn("cos", cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w3))
      .filter($"rn" <= 3)
      .select($"qid", $"rn", $"vid", $"adc".as("adc_dist"), $"cos"))
    val exact = annBruteForce(s, dir).filter($"rn" <= 3)
      .select($"qid".as("eqid"), $"vid".as("evid"))
    val recallRow = exact
      .join(top3.select($"qid".as("aqid"), $"vid".as("avid"), lit(1L).as("hit")),
        $"eqid" === $"aqid" && $"evid" === $"avid", "left")
      .agg(count(lit(1)).as("n_expected"),
        coalesce(sum($"hit"), lit(0L)).as("hits"))
      .withColumn("recall_at_3", ratio($"hits", $"n_expected"))
      .withColumn("recall_ok", $"recall_at_3" >= lit(IvfPqRecallFloor))
    top3.crossJoin(broadcast(recallRow))
      .select($"qid", $"rn", $"vid", $"adc_dist", $"cos",
        $"hits", $"recall_at_3", $"recall_ok")
      .orderBy($"qid", $"rn")
  }

  /** Cosine floor above which a member counts as a near-dup of its
    * cluster representative. Production embeddings put true near-dups
    * above ~0.9; the synthetic fixtures are isotropic (random 64-dim cos
    * concentrates near 0, max intra-cluster ≈ 0.49 at sf0.01), so the
    * declared floor sits at the measured discriminating point — the flag
    * must actually fire for the oracle to be evidence. */
  val SemdedupCos = 0.35

  /** SemDeDup-style cluster-then-prune — the composition the q109
    * clustering exists for: embeddings are clustered, then near-duplicates
    * are detected WITHIN each cluster so no cross-cluster pair is ever
    * formed. This is the representative form (each member scores against
    * its cluster's min-id representative, not all pairs), which keeps the
    * operator linear in corpus size: candidate volume is bounded by
    * membership, not membership², the same soak-driven choice q104 made.
    * At real scale K grows ~√N so per-cluster membership stays bounded;
    * the plan shape is K-invariant.
    *
    * All similarity math happens on the int8 grid: member·rep dot products
    * are exact BIGINT sums, and the cosine is one IEEE divide of exact
    * integers (bit-stable cross-engine, the q73/q109 pattern). Reps attach
    * by broadcast on cluster id — the corpus shuffles once for the final
    * census only. */
  def semdedupPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The assignment feeds three consumers (rep-id census, rep-vector
    // lookup, member scoring); persisting it runs Lloyd once instead of
    // three times — the same persist-the-iterate practice as qv itself.
    val member = kmeansAssigned(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one rep id per cluster; reps are distinct members, so joining the
    // id set back on vec_id recovers (cluster, rep vector) unambiguously
    val repIds = member.groupBy($"cluster").agg(min($"vec_id").as("rep_vec"))
      .select($"rep_vec")
    val repQ = member.join(broadcast(repIds), $"vec_id" === $"rep_vec")
      .select($"cluster".as("rcluster"), $"rep_vec", $"q".as("rq"))
    def idot(a: Column, b: Column): Column = VectorOps.dotI(s)(a, b)
    member.join(broadcast(repQ), $"cluster" === $"rcluster")
      .withColumn("cos",
        idot($"q", $"rq").cast("double") /
          (sqrt(idot($"q", $"q").cast("double")) *
            sqrt(idot($"rq", $"rq").cast("double"))))
      .withColumn("near_dup", $"vec_id" =!= $"rep_vec" && $"cos" >= lit(SemdedupCos))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        sum(when($"near_dup", 1L).otherwise(0L)).as("n_near_dups"),
        max($"rep_vec").as("rep_vec"))
      .orderBy($"cluster")
  }

  /** Corpus-internal exact-substring duplication census — the dedup signal
    * behind "exact substring dedup" in pretraining pipelines: for each doc,
    * the fraction of its distinct 3-token shingles that also occur in some
    * OTHER doc. Unlike q81 (repetition within one doc) or q43/q41 (pairwise
    * similarity), this measures how much of a doc is boilerplate shared
    * across the corpus — the rows a substring-dedup pass would cut.
    *
    * Shape: explode per-doc distinct shingle digests once, reuse that
    * exchange for BOTH the document-frequency aggregate and the per-doc
    * probe side, then equi-join on the digest. Everything that shuffles is
    * a 61-bit digest — never text — and unlike q96 neither join side is
    * assumed broadcastable (the df table is corpus-sized at 100 TB), so
    * this is the shuffle-join twin of q96's broadcast probe. A shingle
    * occurring in ≥2 docs counts as shared; per-doc distinctness means a
    * doc can't inflate its own df (self-repetition is q81's signal, kept
    * orthogonal here). explode_outer + null-filter for the q43/q96
    * generator-pushdown trap; left join keeps fully unique docs at 0. */
  def dedupSubstring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exploded = Tables.documents(s, dir)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("shs", array_distinct(TextOps.shingleHashes3($"th")))
      .select($"doc_id", size($"shs").cast("long").as("n_shingles"),
        explode_outer($"shs").as("sh"))
    val present = exploded.filter($"sh".isNotNull)
    val shared = present.groupBy($"sh")
      .agg(count(lit(1)).as("nd"))
      .filter($"nd" >= 2)
      .select($"sh")
    val perDoc = present.join(shared, "sh")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
    // Per-doc totals come from the SAME exploded subtree (the null row from
    // explode_outer keeps shingle-less docs alive), so the digest pipeline
    // executes once and the df/probe sides share its exchange.
    exploded.groupBy($"doc_id").agg(max($"n_shingles").as("n_shingles"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_shared", coalesce($"n_shared", lit(0L)))
      .withColumn("shared_frac",
        when($"n_shingles" > 0, ratio($"n_shared", $"n_shingles"))
          .otherwise(lit(0.0)))
      .withColumn("flagged", $"shared_frac" >= lit(0.5))
      .orderBy($"doc_id")
  }

  /** Token-count histogram — the distribution census that pairs with
    * q107's scalar profile: bucket every doc's whitespace token count
    * into fixed-width bins (width 8, capped at bin 31 so the bucket
    * domain is bounded regardless of outlier docs) and report per-bin
    * membership and extents. All-integer bucketing (`div` + `least`), so
    * the histogram is bit-identical cross-engine — the floor-division
    * form `width_bucket` compiles to when bounds are integers. One
    * map-side projection + a ≤32-group hash agg: partials collapse to
    * the bin domain per partition before the shuffle, flat at any
    * corpus size. */
  def tokenHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(size(TextOps.tokens($"text")).cast("long").as("n_tok"))
      .withColumn("bin", least(expr("n_tok div 8L"), lit(31L)))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_tok").as("min_tok"), max($"n_tok").as("max_tok"),
        sum($"n_tok").as("sum_tok"))
      .orderBy($"bin")
  }

  /** Keep-best dedup — the canonical-selection policy that follows any
    * dup-grouping stage: within each duplicate group, KEEP exactly one
    * document by an explicit quality order (longest n_chars, doc_id as
    * the deterministic tie-break) and drop the rest. Grouping key is the
    * q40 token-SET fingerprint, so near-identical docs that differ in
    * repetition or ordering fall in one group and the policy has real
    * choices (the fixture has 21 multi-member groups at sf0.01, one of
    * size 29). Plan: ONE fingerprint exchange shared by both windows —
    * the rank and the group-size census ride the same sort (audited; no
    * second shuffle). A WindowGroupLimit would be wrong here: the census
    * must count every member, so all rows legitimately flow through the
    * window stage; what shuffles is (doc_id, n_chars, 32-byte fp), never
    * text. Declared output is the multi-member groups: fingerprint,
    * size, kept doc + its length, and the drop count a curation report
    * needs. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = md5(concat_ws(" ", sort_array(array_distinct(split($"text", " ")))))
    val w = Window.partitionBy($"fp").orderBy($"n_chars".desc, $"doc_id".asc)
    Tables.documents(s, dir)
      .select($"doc_id", $"n_chars", fp.as("fp"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy($"fp")))
      .filter($"rn" === 1 && $"n_members" >= 2)
      .select($"fp", $"n_members", $"doc_id".as("kept_doc"),
        $"n_chars".as("kept_chars"), ($"n_members" - 1L).as("n_dropped"))
      .orderBy($"fp")
  }

  /** URL canonicalization + dedup census — the first stage of any crawl
    * pipeline: raw URLs differ in scheme case, `www.` prefixes, query
    * strings, fragments, and trailing slashes while naming the same
    * resource. Raw URLs are synthesized deterministically from fixture
    * columns (the q74 pattern — fixtures carry no URL column), with
    * `doc_id mod 3` choosing the mess variant and `doc_id mod 100` the
    * canonical target so ~5 docs collide per canonical URL at sf0.01.
    * The normalization chain is four anchored regexes + lowercase,
    * identical text in both engines (anchored single-match patterns, so
    * Spark's replace-all and DuckDB's replace-first agree). Census per
    * host: raw vs canonical counts — the dedup ratio a crawler tracks.
    * Pure per-row projection + one digest-sized groupBy: linear at any
    * crawl size. */
  def urlNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = pmod($"doc_id", lit(100L)).cast("string")
    val raw = when(pmod($"doc_id", lit(3L)) === 0,
        concat(lit("https://www."), $"source", lit(".com/Docs/"), target, lit("/")))
      .when(pmod($"doc_id", lit(3L)) === 1,
        concat(lit("HTTP://"), upper($"source"), lit(".COM/Docs/"), target,
          lit("?utm_source=feed&ref=x")))
      .otherwise(
        concat(lit("https://"), $"source", lit(".com/Docs/"), target, lit("#section-2")))
    def normalize(c: Column): Column = {
      val lowered = lower(c)
      val noScheme = regexp_replace(lowered, "^https?://", "")
      val noWww = regexp_replace(noScheme, "^www\\.", "")
      val noQuery = regexp_replace(noWww, "[?#].*$", "")
      regexp_replace(noQuery, "/$", "")
    }
    Tables.documents(s, dir)
      .select(raw.as("raw_url"))
      .withColumn("canonical", normalize($"raw_url"))
      .withColumn("host", regexp_extract($"canonical", "^([^/]+)", 1))
      .groupBy($"host")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct($"canonical").as("n_canonical"),
        countDistinct($"raw_url").as("n_raw_distinct"))
      .withColumn("dedup_ratio", ratio($"n_canonical", $"n_raw"))
      .orderBy($"host")
  }

  /** Modulus for the additive table checksum: the largest power of two
    * whose per-row digests can accumulate exactly in DECIMAL(38,0)/HUGEINT
    * before the final mod (2^61 · any realistic row count « 10^38). */
  val ChecksumMod = 1L << 61

  /** Order-independent table checksum — the integrity primitive a
    * migration, replication, or relayout job needs at 100 TB: prove two
    * copies of a table hold the same multiset of rows WITHOUT sorting
    * either one (a global sort is exactly the shuffle you can't afford,
    * and row order is meaningless in both copies anyway). Each row folds
    * to a 40-bit digest of its canonical form (fields joined on \\u0001,
    * a separator that cannot appear in the fixture text); two commutative
    * folds then summarize the multiset:
    *
    *   - `xor_check`: bit_xor of digests — any single-row difference
    *     flips it, but a row duplicated an EVEN number of times cancels;
    *   - `sum_check`: digest sum mod 2^61, accumulated exactly in
    *     DECIMAL(38,0) (HUGEINT in the oracle) — multiplicity-sensitive,
    *     catching exactly the duplication class XOR misses.
    *
    * Both folds are map-side partials of constant size: the whole check
    * is one scan, one 1-row aggregate, zero data shuffled. Used together
    * with `n_rows` a mismatch in any of the three pinpoints the failure
    * class (cardinality vs content vs multiplicity). The clustered/
    * compacted writers (Bucketing) are the intended consumers: checksum
    * before and after a relayout. */
  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canonical = concat_ws("\u0001",
      $"doc_id".cast("string"), $"lang", $"source",
      $"n_chars".cast("string"), $"text")
    Tables.documents(s, dir)
      .select(conv(substring(md5(canonical), 1, 10), 16, 10)
        .cast("long").as("digest"))
      .agg(
        count(lit(1)).as("n_rows"),
        expr("bit_xor(digest)").as("xor_check"),
        (sum($"digest".cast("decimal(38,0)")) % lit(ChecksumMod))
          .cast("long").as("sum_check"))
  }

  /** Tokens per packed training sequence (bin) for [[packSequences]]. */
  val PackBudget = 512L

  /** Sequence packing — the docs→fixed-token-budget batching step of a
    * pretraining pipeline: stream docs in deterministic order within each
    * language shard, assign each doc to the bin its STARTING token offset
    * falls in (`(cum - n_tok) div budget` — contiguous-stream packing, the
    * scheme concat-and-chunk loaders implement). Pure window cumsum +
    * integer math: no RNG, no driver loop, same packing on every engine
    * and every rerun. The window partitions by lang, so packing
    * parallelizes across shards; at 100 TB the shard key would be
    * (lang, date-bucket) to bound any one partition — same plan shape. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r10: the per-lang cumulative sum rides the TwoPass grouped
    // two-pass — a plain partitionBy(lang) window serializes the whole
    // corpus onto |langs| sort tasks (the q212 class); the two-pass form
    // range-partitions (lang, doc_id), so packing parallelizes WITHIN a
    // language too, not just across shards.
    TwoPass.groupedRankAndRunningSum(
        Tables.documents(s, dir)
          .select($"lang", $"doc_id",
            size(TextOps.tokens($"text")).cast("long").as("n_tok")),
        Seq("lang"), "rn", "cnt", "cum_tok", $"n_tok", $"doc_id".asc)
      .withColumn("bin_id", expr(s"(cum_tok - n_tok) div $PackBudget"))
      .groupBy($"lang", $"bin_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("sum_tok"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"bin_id")
  }

  /** Edit-distance near-dups with prefix blocking, REPRESENTATIVE form —
    * the fuzzy-match complement to the digest-based dedups (q41-q43):
    * docs sharing an exact 16-char prefix block are compared by
    * Levenshtein over a fixed 48-char body slice, but each doc compares
    * ONLY against its block's min-doc representative (the canopy trick),
    * never all-pairs. Three bounds make this corpus-scale-safe: the block
    * key gates candidates (LSH-band contract), the 48-char slice caps
    * each comparison at 48×48 DP cells, and the star shape keeps
    * comparisons LINEAR in block size — the all-pairs form measured 57×
    * slower on a 10× corpus with 10-member dup clusters (quadratic in
    * cluster size; a boilerplate-prefix hot block would explode at
    * 100 TB). Matched (rep, doc) edges transitively recover the same
    * clusters q76-style when dups are mutual near-copies of the
    * representative. */
  def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def d = Tables.documents(s, dir).select($"doc_id",
      substring($"text", 1, 16).as("pfx"), substring($"text", 17, 48).as("body"))
    val withRep = d
      .withColumn("rep", min($"doc_id").over(Window.partitionBy($"pfx")))
      .filter($"doc_id" =!= $"rep")
    withRep
      .join(d.select($"doc_id".as("rep"), $"pfx", $"body".as("body_rep")),
        Seq("rep", "pfx"))
      .withColumn("dist", levenshtein($"body", $"body_rep"))
      .filter($"dist" <= 12)
      .select($"rep".as("doc_a"), $"doc_id".as("doc_b"), $"dist")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Domain-mixture rebalancing — "sample the corpus to a target language
    * mixture" (here: uniform, quota = the smallest language's count). The
    * real pipeline step behind mixture weights in pretraining data recipes:
    * downsample over-represented domains deterministically, never upsample.
    * Selection is the q84 digest order (reproducible across engines,
    * reruns, and repartitionings — rand(seed) is none of those), so the
    * kept set is exactly the quota-smallest digests per language. Shape:
    * one tiny per-lang count agg (broadcast as a 1-row quota), one full
    * rank per lang over narrow (doc_id, lang, digest) triples — the quota
    * is data-dependent, so unlike q84/q106 this rank cannot collapse to
    * WindowGroupLimit; the one shuffle it costs carries ids, never text.
    * Output is the per-language census with
    * before/after shares (exact integer ratios rendered by one IEEE
    * divide, the Portable rule). */
  def mixRebalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir).select($"doc_id", $"lang")
      .withColumn("hkey",
        conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10).cast("long"))
    val counts = d.groupBy($"lang").agg(count(lit(1)).as("n_total"))
    val quota = counts.agg(min($"n_total").as("quota"))
    // r10: the quota is data-dependent so this rank can never collapse
    // to WindowGroupLimit — and a partitionBy(lang) window would
    // serialize the corpus onto |langs| sort tasks (the q212 class). The
    // TwoPass grouped rank keeps the selection identical (same total
    // order) with O(cluster) sort parallelism.
    val kept = TwoPass.groupedRankWithCount(d, Seq("lang"), "rn", "cnt",
        $"hkey".asc, $"doc_id".asc)
      .crossJoin(broadcast(quota))
      .filter($"rn" <= $"quota")
      .groupBy($"lang").agg(count(lit(1)).as("n_kept"))
    val wAll = Window.partitionBy()
    counts.join(kept, "lang")
      .withColumn("share_before", ratio($"n_total", sum($"n_total").over(wAll)))
      .withColumn("share_after", ratio($"n_kept", sum($"n_kept").over(wAll)))
      .select($"lang", $"n_total", $"n_kept", $"share_before", $"share_after")
      .orderBy($"lang")
  }

  /** Quality-weighted mixture PLAN — q127's complement: instead of
    * downsampling to the min-quota, emit the UPSAMPLING table a training
    * run consumes (the DoReMi/Pile-style static mixture): per
    * (lang, length-band) cell, the actual share and the repeat factor
    * that would equalize cells — repeat = N / (n_cells · n_cell), exact
    * integers into ONE divide. The band is an exact integer threshold on
    * token count (no float scoring in the keys). n_cells is a 1-row
    * scalar broadcast computed in-plan. Scale: one map-side cell
    * collapse; everything after is ≤|langs|·3 rows. */
  def qualityMixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.documents(s, dir)
      .select($"lang", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("band",
        when($"ntok" >= 40, "long").when($"ntok" >= 20, "mid")
          .otherwise("short"))
      .groupBy($"lang", $"band").agg(count(lit(1)).as("n_docs"))
    val tot = cells.agg(sum($"n_docs").as("n_total"),
      count(lit(1)).as("n_cells"))
    cells.crossJoin(broadcast(tot))
      .select($"lang", $"band", $"n_docs",
        ratio($"n_docs", $"n_total").as("share"),
        ratio($"n_total", $"n_cells" * $"n_docs").as("repeat_factor"))
      .orderBy($"lang", $"band")
  }

  /** Temperature-smoothed mixture ALLOCATION — the α-sampling step of
    * multilingual/multi-domain data mixing (the p_i^α reweighting
    * popularized by multilingual BERT/mT5 training recipes, α = 0.5):
    * given per-language token masses n_i, sample a fixed budget of
    * B = 1 000 000 examples with probability ∝ √n_i — up-weighting
    * tail languages relative to proportional sampling — and emit the
    * EXACT integer allocation via largest-remainder apportionment
    * (Hamilton method): base_i = ⌊B·w_i / W⌋, then +1 to the r = B − Σ
    * base largest remainders (ties → smaller lang; allocations sum to
    * B exactly, by construction — the oracle re-derives every cell).
    * The weight is an exact integer √: w_i = isqrt(n_i·10⁶) ≈ 10³·√n_i
    * (0.1 % granularity), with the FP floor(sqrt) GUARDED by ±1 integer
    * correction so both engines agree even when √x lands within an ulp
    * of an integer; exact while n_i·10⁶ < 2⁵² (≈4·10⁹ tokens — at
    * larger corpora drop the multiplier a decade per 100× tokens, the
    * granularity trade documented here). Scale: per-lang token mass is
    * sum(size(tokens)) — a scan + map-side combine, NO token explode;
    * everything after runs on ≤|langs| rows (the remainder rank is a
    * window over that dimension-bounded table, the q181 offsets-table
    * class, not a data window). */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 1000000L
    def isqrt(x: Column): Column = {
      val r0 = floor(sqrt(x.cast("double"))).cast("long")
      r0 + when((r0 + 1L) * (r0 + 1L) <= x, 1L).otherwise(0L) -
        when(r0 * r0 > x, 1L).otherwise(0L)
    }
    val mass = Tables.documents(s, dir)
      .select($"lang", size(TextOps.tokens($"text")).cast("long").as("nt"))
      .groupBy($"lang").agg(sum($"nt").as("n_tokens"))
      .withColumn("w", isqrt($"n_tokens" * 1000000L))
    val tot = mass.agg(sum($"w").as("ww"))
    val based = mass.crossJoin(broadcast(tot))
      // `div`, not `/`: Spark's `/` on longs is IEEE double division
      .withColumn("base", expr(s"w * ${B}L div ww"))
      .withColumn("rem", ($"w" * B) % $"ww")
    val short = based.agg((lit(B) - sum($"base")).as("r"))
    based.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"rem".desc, $"lang".asc)))
      .select($"lang", $"n_tokens", $"w".as("weight"),
        ($"base" + when($"rk" <= $"r", 1L).otherwise(0L)).as("alloc"))
      .orderBy($"lang")
  }

  /** Per-document n-gram NOVELTY — how much of each document's shingle
    * set appears in NO earlier document (by doc_id order): the marginal-
    * content measure dedup pipelines use to rank what to keep when a
    * cluster must be collapsed, and the "data value" curve (novelty per
    * added document) corpus builders plot. first-occurrence owner per
    * shingle = min(doc_id); a doc's novelty = owned/total shingles — two
    * exact ints, one divide. Output: the 20 LEAST novel docs (the most
    * derivative ones — in the sf1docs soak these are exactly the
    * replicas). Scale: one shingle explode, one shingle-keyed min-agg,
    * one shingle-keyed join back — all linear in corpus shingles. */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .filter(size($"toks") >= 3)
      .withColumn("th", TextOps.tokenHashes($"toks"))
      .select($"doc_id",
        explode(array_distinct(TextOps.shingleHashes3($"th"))).as("sh"))
    val first = sh.groupBy($"sh").agg(min($"doc_id").as("first_doc"))
    val ord = Seq($"novelty".asc, $"doc_id".asc)
    sh.join(first, "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
          .as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        ratio($"n_novel", $"n_shingles").as("novelty"))
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Embedding hygiene census per label — the vector-quality audit run
    * before any ANN index build: zero vectors (cosine-undefined, they
    * poison normalized scores) and the norm² envelope. norm² is a
    * SEQUENTIAL fold over the array (fixed element order ⇒ bit-identical
    * in both engines — the q78 contract; a SUM over exploded elements
    * would be shuffle-order-dependent), and min/max over per-row doubles
    * are order-independent, so the census hash-compares despite being
    * float-valued. One scan, ≤|labels| output rows. */
  def embeddingNormCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("norm2", expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE)," +
          " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"norm2" === 0.0, 1L).otherwise(0L)).as("n_zero"),
        min($"norm2").as("min_norm2"),
        max($"norm2").as("max_norm2"))
      .orderBy($"label")
  }

  /** Cross-source overlap matrix — dataset-level contamination audit
    * between SUBCORPORA (which crawl dumps / source feeds share
    * content?), the corpus-curation complement of q41's doc-level LSH
    * and q96's eval decontamination. Each source gets ONE set-level
    * MinHash signature: per hash function, the min over ALL the
    * source's shingle digests (same 12-hash universal family as q41 —
    * and min is fully map-side combinable, so the signature build is
    * one combine-heavy agg emitting |sources| rows however large the
    * corpus). Every source PAIR then compares signatures: matching
    * minima / 12 estimates the shingle-set Jaccard (the classic
    * Broder estimator). The pair space is |sources|²/2 ≤ a few hundred
    * — a broadcast theta join over a dimension-bounded table, never a
    * data-sized pair table. Deterministic: integer minhash math both
    * engines replay exactly (the q41 contract), the estimate is one
    * integer ratio. */
  def sourceOverlapMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
    // Two landmines, both measured on this query at sf0.1:
    // (1) th MUST be its own column (the q41 chain): composing
    //     shingleHashes3(tokenHashes(toks)) inline duplicates the md5
    //     transform five times in one tree — CSE can't hoist it out of
    //     the shingle lambda, so every shingle re-digests the document.
    // (2) explode_outer, NOT explode (the q43 lesson): a plain explode
    //     lets InferFiltersFromGenerate add `size(hs) > 0`, which
    //     pushdown rewrites in terms of text BELOW the projections —
    //     inlining the digest pipeline ~6× into the scan-side Filter,
    //     O(tokens²) md5 per doc (measured 78 s vs 1.5 s). The ≥3-token
    //     screen already guarantees hs is non-empty, so outer ≡ inner.
    val sh = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .filter(size($"toks") >= 3)
      .withColumn("th", TextOps.tokenHashes($"toks"))
      .withColumn("hs", TextOps.shingleHashes3($"th"))
      .select($"source", explode_outer($"hs").as("h"))
    val mins = (0 until 12).map(j =>
      min((lit(MinhashA(j)) * $"h" + lit(MinhashB(j))) % lit(MinhashPrime))
        .as(s"m$j"))
    val sigs = sh.groupBy($"source").agg(mins.head, mins.tail: _*)
    val a = sigs.select($"source".as("src_a") +:
      (0 until 12).map(j => col(s"m$j").as(s"a$j")): _*)
    val b = sigs.select($"source".as("src_b") +:
      (0 until 12).map(j => col(s"m$j").as(s"b$j")): _*)
    val nMatch = (0 until 12)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(b, $"src_a" < $"src_b")
      .select($"src_a", $"src_b", nMatch.as("n_match"))
      .withColumn("est_jaccard", ratio($"n_match", lit(12L)))
      .orderBy($"src_a", $"src_b")
  }

  /** Distribution-drift census — the snapshot-vs-snapshot monitor an
    * ML-ops pipeline runs before retraining ("did the data mix move?"),
    * here between the two halves of the q260 consistent-hash split
    * (membership a pure function of doc_id — the same stable-split
    * machinery q297 trains on). The drift measure is TOTAL VARIATION
    * distance, chosen over PSI/KL deliberately: TV needs no logarithm,
    * so the whole computation stays EXACT — per (lang, length-band)
    * bucket the term |n_a·N_B − n_b·N_A| is integer (promoted to
    * decimal(38,0): the cross products pass 2⁶³ at 100 TB-class corpus
    * sizes, the q197/q203 lesson), the bucket sum is an exact decimal
    * fold, and TV = Σ/(2·N_A·N_B) is ONE final IEEE divide — a float
    * that hash-compares. Per-bucket rows carry the raw counts and the
    * exact drift numerator (the "which bucket moved" answer); the
    * global TV rides along via a broadcast 1-row total. Scale: one
    * scan, one bounded (lang, band) agg, everything after on ≤ a few
    * dozen rows. */
  /** Smirnov's asymptotic critical coefficient c(α) = √(−ln(α/2)/2) at
    * α = 0.05 — the standard two-sample KS rejection line
    * D > c(α)·√((n₁+n₂)/(n₁·n₂)). */
  val KsCritAlpha05 = 1.358

  /** Miscoverage level for [[conformalThreshold]], in percent: α = 10 %
    * → nominal coverage 90 %. Kept integral so the conformal rank
    * k = ⌈(1−α)(n+1)⌉ is EXACT integer arithmetic. */
  val ConformalAlphaPct = 10L

  /** Empirical-coverage floor for [[conformalThreshold]]'s contract
    * flag. The split-conformal guarantee is ≥ 1−α = 0.90 IN EXPECTATION
    * over calibration draws; a single split fluctuates ~±√(α(1−α)/n),
    * so the flag sits at 0.80 — measured per-lang coverage at the three
    * fixture SFs runs 0.861–1.0 (min: de at sf0.001, n_test = 36, where
    * one doc moves coverage by 0.028 — the floor keeps a ≥2-doc margin
    * at the tightest cell; the q240 measured-floor + q291 headroom
    * stance). */
  val ConformalCovFloor = 0.80

  /** Split-conformal calibration threshold — the FINITE-SAMPLE quantile
    * rule (Vovk et al.'s split conformal prediction, public
    * description) a calibrated production filter ships where q309/q144
    * ship plain quantiles: per language, τ = the ⌈(1−α)(n+1)⌉-th
    * smallest calibration score (score = token count; calibration set =
    * q304's consistent-hash half A), which guarantees
    * P(score_new ≤ τ) ≥ 1−α for exchangeable data — the +1 in the rank
    * is exactly what turns an empirical quantile into a guarantee. The
    * held-out half B then REPLAYS the guarantee: per-lang empirical
    * coverage rides the output with the [[ConformalCovFloor]] contract
    * flag. All arithmetic exact: the rank is integer
    * ((100−α)(n+1)+99) div 100, τ is a cum≥k selection over the
    * (lang, score) value census (bounded by the token-count DOMAIN —
    * q332's window argument), ties round τ UP the value ladder
    * (coverage can only exceed nominal), and k > n (tiny calibration
    * sets) yields τ = NULL = accept-everything, the conformal +∞
    * convention. One divide per lang at the end; empty halves guarded
    * like q332. */
  def conformalThreshold(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val half = driftHalfCol
    val base = Pinned.pin(Tables.documents(s, dir)
      .select($"lang", $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", half)) // one corpus pass feeds both half-censuses
    val ca = Pinned.pin(base.filter($"in_a").groupBy($"lang", $"ntok")
      .agg(count(lit(1)).as("c"))) // bounded census, read by totals AND the rank
    val tot = ca.groupBy($"lang")
      .agg(sum($"c").as("n_cal"))
      .withColumn("k_rank",
        expr(s"((100 - $ConformalAlphaPct) * (n_cal + 1) + 99) div 100"))
    val wCum = Window.partitionBy($"lang").orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tau = ca.withColumn("cum", sum($"c").over(wCum))
      .join(broadcast(tot), "lang")
      .groupBy($"lang")
      .agg(max($"n_cal").as("n_cal"), max($"k_rank").as("k_rank"),
        min(when($"cum" >= $"k_rank", $"ntok")).as("tau"))
    val bt = base.filter(!$"in_a").groupBy($"lang", $"ntok")
      .agg(count(lit(1)).as("c"))
    val covRatio = $"n_covered".cast("double") / $"n_test"
    tau.join(bt, Seq("lang"), "left")
      .groupBy($"lang")
      .agg(max($"n_cal").as("n_cal"), max($"k_rank").as("k_rank"),
        max($"tau").as("tau"),
        coalesce(sum($"c"), lit(0L)).as("n_test"),
        coalesce(sum(when($"tau".isNull || $"ntok" <= $"tau", $"c")
          .otherwise(lit(0L))), lit(0L)).as("n_covered"))
      .select($"lang", $"n_cal", $"k_rank", $"tau", $"n_test", $"n_covered",
        when($"n_test" > 0L, covRatio).as("coverage"),
        coalesce(when($"n_test" > 0L, covRatio >= lit(ConformalCovFloor)),
          lit(false)).as("coverage_ok"))
      .orderBy($"lang")
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic — the EXACT sup-gap
    * complement of q304's binned TV distance: per language, compare the
    * token-count distribution of the q304 consistent-hash halves by the
    * supremum of |CDF_A − CDF_B| over the ranked value census, computed
    * entirely in integers — sup_v |cum_a(v)·N_B − cum_b(v)·N_A| — with
    * ONE final IEEE divide per language (q317's no-floats-until-the-end
    * stance). Where q304 pays information for binning robustness, KS
    * sees ANY shift in location or shape at its exact size — the
    * standard pre-training distribution-regression test between two
    * corpus snapshots. `drifted` applies Smirnov's α = 0.05 line
    * ([[KsCritAlpha05]]) — the fixture halves are iid by construction,
    * so flags are 5 %-level false positives there (sf0.01 is all-FALSE;
    * sf0.001's en slice sits at 0.198 vs a 0.196 line and trips — the
    * correct behavior of a 0.05-level test on null data, and both
    * engines compute the identical boolean). The spec plants a disjoint
    * shift (KS exactly 1) and a constant null (KS exactly 0).
    *
    * Scale shape: the corpus collapses to the (lang, ntok) value census
    * in one grouped count (map-side partials); the prefix sums run as a
    * lang-keyed window over CENSUS rows — bounded by the token-count
    * DOMAIN (doc-length cap), never corpus size, so the window task is
    * safe at any SF (the q144 bounded-domain argument, not the TwoPass
    * unbounded-input case). Envelope: cum·N ≤ N_A·N_B < 2⁶³ holds for
    * slices to ~3·10⁹ docs a side; beyond that, retype the
    * cross-multiply to decimal internally (q304's d38 pattern). */
  def ksDriftStat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val half = driftHalfCol
    // value census, pinned: read by the prefix window AND the totals
    val census = Pinned.pin(Tables.documents(s, dir)
      .select($"lang", $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", half)
      .groupBy($"lang", $"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv")))
    val totals = census.groupBy($"lang")
      .agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"))
    val w = Window.partitionBy($"lang").orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = census
      .withColumn("cum_a", sum($"nav").over(w))
      .withColumn("cum_b", sum($"nbv").over(w))
      .join(broadcast(totals), "lang")
      .withColumn("dnum", abs($"cum_a" * $"n_b" - $"cum_b" * $"n_a"))
      .groupBy($"lang")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        max($"dnum").as("ks_num"))
    // KS is undefined when either half is empty (a degenerate slice, not
    // the fixture): gate the divides behind the branch — ANSI division
    // refuses a zero divisor even for doubles, so the guard must keep
    // the expression UNevaluated, not just mask its result.
    val denomOk = $"n_a" > 0L && $"n_b" > 0L
    val ksStat = $"ks_num".cast("double") / ($"n_a".cast("double") * $"n_b")
    per.select($"lang", $"n_a", $"n_b", $"ks_num",
        when(denomOk, ksStat).as("ks_stat"),
        coalesce(when(denomOk, ksStat > lit(KsCritAlpha05) *
          sqrt(($"n_a" + $"n_b").cast("double") / ($"n_a".cast("double") * $"n_b"))),
          lit(false)).as("drifted"))
      .orderBy($"lang")
  }

  /** Asymptotic α = 0.05 critical value of the two-sample Cramér–von
    * Mises criterion T (Anderson 1962, public tables): reject at
    * T > 0.461. A constant of the test, shared literally by both
    * engines (the q339/q348 authoring-time-constant stance). */
  val CvmCritAlpha05 = 0.461

  /** Two-sample Cramér–von Mises drift statistic — the INTEGRATED
    * squared-gap companion of q332's KS sup-gap over the same
    * consistent-hash halves: where KS sees only the single largest CDF
    * gap, CvM accumulates Σ over every combined observation of
    * (CDF_A − CDF_B)², so a broad small shift that never produces one
    * big gap (the distribution-drift shape KS is least powered for)
    * still registers. The statistic is decided on EXACT INTEGERS end to
    * end: per census value, d = cum_a·N_B − cum_b·N_A (the q332
    * cross-multiply), and the weighted square sum
    * W = Σ_v (nav+nbv)·d² folds in decimal(38,0) — W itself
    * hash-compares with zero float ops (surfaced as a digit string;
    * the driver hash refuses DECIMAL columns). The normalized
    * criterion T = W / (N_A·N_B·(N_A+N_B)²) is ONE IEEE divide;
    * `drifted` applies [[CvmCritAlpha05]]. Degenerate slices (an empty
    * half) leave T NULL and drifted false, the q332 gating.
    *
    * Scale shape: identical to q332 — one grouped count to the
    * (lang, ntok) domain-bounded census, a lang-keyed prefix window
    * over census rows, one bounded agg. Envelope: W ≤ N·(N_A·N_B)²
    * needs its 38 digits at the adversarial extreme (disjoint
    * supports), which holds to ~3·10⁷ docs per language slice; real
    * iid-half deployments sit orders below, and past the bound the
    * honest rewrite divides d by N_A·N_B per value before squaring
    * (floats, losing the exact-W contract). */
  def cvmDriftStat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val half = driftHalfCol
    // value census, pinned: read by the prefix window AND the totals
    val census = Pinned.pin(Tables.documents(s, dir)
      .select($"lang", $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", half)
      .groupBy($"lang", $"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv")))
    val totals = census.groupBy($"lang")
      .agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"))
    val w = Window.partitionBy($"lang").orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = census
      .withColumn("cum_a", sum($"nav").over(w))
      .withColumn("cum_b", sum($"nbv").over(w))
      .join(broadcast(totals), "lang")
      .withColumn("d", $"cum_a".cast(d38) * $"n_b" - $"cum_b".cast(d38) * $"n_a")
      .groupBy($"lang")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        sum(($"nav" + $"nbv").cast(d38) * $"d" * $"d").as("wnum"))
    val denomOk = $"n_a" > 0L && $"n_b" > 0L
    val cvmStat = $"wnum".cast("double") /
      ($"n_a".cast("double") * $"n_b" * ($"n_a" + $"n_b") * ($"n_a" + $"n_b"))
    per.select($"lang", $"n_a", $"n_b",
        $"wnum".cast("string").as("cvm_num"),
        when(denomOk, cvmStat).as("cvm_stat"),
        coalesce(when(denomOk, cvmStat > lit(CvmCritAlpha05)), lit(false))
          .as("drifted"))
      .orderBy($"lang")
  }

  /** Two-sided normal α = 0.05 line for the q365 rank-sum z. */
  val MwCritAlpha05 = 1.96

  /** Exact ROC-AUC of the q131 unigram-surprisal score as a
    * non-English detector — the threshold-free ranking eval beside
    * q364's single-threshold kappa: AUC = P(score(non-en) > score(en))
    * with ties at ½, which is EXACTLY the Mann–Whitney U statistic
    * normalized by n_pos·n_neg (the q365 machinery pointed at a
    * classifier score instead of a drift split — the textbook identity,
    * exploited so the whole computation is the same exact-integer
    * doubled-midrank census fold: AUC = (2RS_pos − n_pos(n_pos+1)) /
    * (2·n_pos·n_neg), ONE divide; the rank-Gini 2·AUC−1 shares the
    * exact numerator). Scores are the per-doc integer surprisal-bit
    * sums (q131's dyadic quantization — already exact), positives are
    * non-English docs. Scale: token pass → per-doc integer score →
    * score-value census (domain-bounded by doc length × bits) → one
    * global prefix window over census rows. */
  /** Shared q366/q373/q381 chain: the q131 unigram-surprisal per-doc
    * score collapsed to the (score, npv, nnv) value census — positives
    * are non-English docs (the Spark twin of [[surprisalCensusSql]]). */
  private def surprisalScoreCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val toks = Tables.documents(s, dir)
      .select($"doc_id", $"lang", explode(TextOps.tokens($"text")).as("tok"))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
    val nTot = vocab.agg(sum($"cnt").as("n_corpus"))
    toks
      .join(broadcast(vocab), "tok")
      .crossJoin(broadcast(nTot))
      .withColumn("surprise", bits($"n_corpus") - bits($"cnt"))
      .groupBy($"doc_id", $"lang")
      .agg(sum($"surprise").as("score"))
      .groupBy($"score")
      .agg(sum(when($"lang" =!= "en", 1L).otherwise(0L)).as("npv"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("nnv"))
  }

  def rocAucSurprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val census = surprisalScoreCensus(s, dir)
    val w = Window.orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("wv", $"npv" + $"nnv")
      .withColumn("cum_before", sum($"wv").over(w) - $"wv")
      .agg(sum($"npv").as("n_pos"), sum($"nnv").as("n_neg"),
        sum($"npv" * (lit(2L) * $"cum_before" + $"wv" + 1L)).as("rs2"))
      .withColumn("u2_pos", $"rs2" - $"n_pos" * ($"n_pos" + 1L))
      .select($"n_pos", $"n_neg", $"u2_pos",
        when($"n_pos" > 0L && $"n_neg" > 0L,
          ratio($"u2_pos", lit(2L) * $"n_pos" * $"n_neg")).as("auc"),
        when($"n_pos" > 0L && $"n_neg" > 0L,
          ratio($"u2_pos" - $"n_pos" * $"n_neg", $"n_pos" * $"n_neg"))
          .as("gini_rank"))
  }

  /** Average precision / PR-AUC of the q131 unigram-surprisal score as a
    * non-English detector — the IMBALANCE-honest companion of q366's
    * ROC-AUC: on the skewed positive classes this engine's own filters
    * produce (q325's keep decisions, q131's gates), ROC flatters because
    * its FPR denominator is the huge negative class, while PR's precision
    * denominator is the retrieved set itself. Uses the THRESHOLD
    * (step-wise, interpolation-free) definition — public scikit-learn
    * `average_precision_score` semantics: over distinct score values t in
    * DESCENDING order, AP = Σ_t (R_t − R_{t−1})·P_t with precision P_t =
    * cumpos_ge/cum_ge and recall step R_t − R_{t−1} = npv_t/n_pos, so each
    * term is npv·cumpos_ge/(n_pos·cum_ge) — tie-robust by construction (a
    * tied run is ONE threshold; no within-tie order exists for the two
    * engines to disagree on). All counts are exact integers from the q366
    * score census; the only floats are the per-threshold single divides,
    * summed in ONE fixed order (ascending score) by a seeded array fold —
    * both engines run the identical IEEE tree (the q351/q358 stance).
    * Perfect separation ⇒ every prefix is pure ⇒ AP = 1.0 exactly (spec
    * law); a random ranker's AP is the prevalence n_pos/N (ap_baseline),
    * and ap_lift = ap/ap_baseline is the skew-free headline. Envelope:
    * npv·cumpos_ge ≤ n² stays in long to ~3·10⁹ docs (the q364 N² bound).
    * Scale: token pass → per-doc integer score → domain-bounded value
    * census (|domain| ≤ max_doc_bits, corpus-size-free) → one global
    * prefix window over census rows → one ≤|domain| array fold. */
  def averagePrecision(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val census = surprisalScoreCensus(s, dir)
    val w = Window.orderBy($"score".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    census
      .withColumn("cum_ge", sum($"npv" + $"nnv").over(w))
      .withColumn("cumpos_ge", sum($"npv").over(w))
      .agg(sum($"npv").as("n_pos"), sum($"nnv").as("n_neg"),
        count(lit(1)).as("n_thresholds"),
        sort_array(collect_list(
          struct($"score", $"npv", $"cumpos_ge", $"cum_ge"))).as("xs"))
      .select($"n_pos", $"n_neg", $"n_thresholds",
        aggregate($"xs", lit(0.0), (a, x) =>
          a + (x.getField("npv") * x.getField("cumpos_ge")).cast("double")
            / x.getField("cum_ge").cast("double")).as("sum_terms"))
      .select($"n_pos", $"n_neg", $"n_thresholds",
        when($"n_pos" > 0L,
          $"sum_terms" / $"n_pos".cast("double")).as("ap"),
        when($"n_pos" + $"n_neg" > 0L,
          ratio($"n_pos", $"n_pos" + $"n_neg")).as("ap_baseline"),
        when($"n_pos" > 0L,
          ($"sum_terms" / $"n_pos".cast("double")) /
            ratio($"n_pos", $"n_pos" + $"n_neg")).as("ap_lift"))
  }

  /** F1-optimal operating point over the q373 threshold census — the
    * DEPLOYMENT decision AP/AUC deliberately avoid: a shipped filter
    * runs at ONE threshold, and this picks it. At each distinct score t
    * (retrieve score ≥ t): TP = cumpos_ge, so F1 = 2·TP/(cum_ge +
    * n_pos) — numerator and denominator exact integers, and the argmax
    * over thresholds decided by INTEGER CROSS-MULTIPLY (f1n_b·f1d_a vs
    * f1n_a·f1d_b in decimal(38,0), products ≤ 4n²; ties to the HIGHER
    * threshold — the smaller retrieved set, the conservative
    * deployment), realized as the q374 left-anti total-order argmax
    * over the domain-bounded threshold census. Output: the chosen
    * operating point with its confusion counts, precision/recall/F1 as
    * shared single divides, and the panel totals riding. Scale: the
    * q373 chain plus one census-bounded anti-join. Depth cap: the
    * anti-join argmax is O(T²) in the threshold census T (here bounded
    * by the score DOMAIN, not the corpus) — see
    * [[wordpieceMergeLoop]]'s DEPTH CAP note for the ulp-band
    * narrowing upgrade if the census ever grows past a few thousand
    * distinct scores. */
  def f1ThresholdPanel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = surprisalScoreCensus(s, dir)
    val w = Window.orderBy($"score".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = Pinned.pin(census
      .withColumn("cum_ge", sum($"npv" + $"nnv").over(w))
      .withColumn("cumpos_ge", sum($"npv").over(w))) // read by totals + both argmax sides
    val tot = cums.agg(sum($"npv").as("n_pos"), sum($"nnv").as("n_neg"),
      count(lit(1)).as("n_thresholds"))
    val cand = cums.crossJoin(broadcast(tot))
      .select($"score", $"cumpos_ge", $"cum_ge",
        $"n_pos", $"n_neg", $"n_thresholds",
        (lit(2L) * $"cumpos_ge").as("f1n"), ($"cum_ge" + $"n_pos").as("f1d"))
    val o = cand.select($"score".as("oscore"),
      $"f1n".as("of1n"), $"f1d".as("of1d"))
    cand.join(broadcast(o),
        ($"of1n".cast(d38) * $"f1d" > $"f1n".cast(d38) * $"of1d") ||
          ($"of1n".cast(d38) * $"f1d" === $"f1n".cast(d38) * $"of1d" &&
            $"oscore" > $"score"),
        "left_anti")
      .select($"score".as("score_threshold"),
        $"n_pos", $"n_neg", $"n_thresholds",
        $"cumpos_ge".as("tp"), ($"cum_ge" - $"cumpos_ge").as("fp"),
        ($"n_pos" - $"cumpos_ge").as("fn"),
        ratio($"cumpos_ge", $"cum_ge").as("precision"),
        when($"n_pos" > 0L, ratio($"cumpos_ge", $"n_pos")).as("recall"),
        ratio(lit(2L) * $"cumpos_ge", $"cum_ge" + $"n_pos").as("f1"))
  }

  /** Binary eval panel with Matthews correlation (Matthews 1975,
    * public definition) for the marker scorer as an ENGLISH detector —
    * the single-threshold companion of q364's multi-class kappa: over
    * the q364 census base (scored, in-domain docs), predicted-en vs
    * truly-en gives TP/FP/FN/TN, precision/recall/F1 as shared single
    * divides, and MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN))
    * — numerator exact in decimal(38,0) (≤ N²), ONE sqrt over the
    * exact 4-margin product (≤ N⁴, the q376 single-sqrt stance); a
    * zero margin (constant classifier) defines MCC = 0 exactly, the
    * public scikit-learn convention — which the fixture itself
    * demonstrates: the scorer predicts 'en' everywhere (q364's
    * lesson), so TN = FN = 0 and MCC pins to 0 while precision sits at
    * prevalence. Scale: one token pass → one 4-cell agg. */
  def mccEvalPanel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val domain = MarkerChain.map(_._1)
    val g = markerScoredAll(s, dir)
      .filter($"s_tot" > 0L && $"lang".isin(domain: _*))
      .agg(
        sum(when($"predicted" === "en" && $"lang" === "en", 1L)
          .otherwise(0L)).as("tp"),
        sum(when($"predicted" === "en" && $"lang" =!= "en", 1L)
          .otherwise(0L)).as("fp"),
        sum(when($"predicted" =!= "en" && $"lang" === "en", 1L)
          .otherwise(0L)).as("fn"),
        sum(when($"predicted" =!= "en" && $"lang" =!= "en", 1L)
          .otherwise(0L)).as("tn"))
    val den = ($"tp" + $"fp").cast(d38) * ($"tp" + $"fn") *
      ($"tn" + $"fp") * ($"tn" + $"fn")
    g.select($"tp", $"fp", $"fn", $"tn",
      ($"tp" + $"fp" + $"fn" + $"tn").as("n_scored"),
      when($"tp" + $"fp" > 0L, ratio($"tp", $"tp" + $"fp"))
        .as("precision_en"),
      when($"tp" + $"fn" > 0L, ratio($"tp", $"tp" + $"fn"))
        .as("recall_en"),
      when(lit(2L) * $"tp" + $"fp" + $"fn" > 0L,
        ratio(lit(2L) * $"tp", lit(2L) * $"tp" + $"fp" + $"fn"))
        .as("f1_en"),
      when(den > 0,
        ($"tp".cast(d38) * $"tn" - $"fp".cast(d38) * $"fn").cast("double")
          / sqrt(den.cast("double"))).otherwise(lit(0.0)).as("mcc"))
  }

  /** Mann–Whitney U rank-sum test (Mann & Whitney 1947, public
    * description) between the q332 consistent-hash halves — the
    * LOCATION-shift member of the drift family (KS sees any shape
    * difference, CvM integrates it; U asks the sharper question "does
    * one half stochastically dominate?", the most powered test when the
    * drift is a median shift). Rank sums are computed EXACTLY from the
    * value census with midrank tie handling on DOUBLED ranks (2·midrank
    * of a tied run = 2·cum_before + w + 1, always an integer —
    * no half-ranks ever form): 2U_A = Σ_v nav·(2·cum_before + w + 1)
    * − n_a(n_a+1), an exact integer. The tie-corrected normal
    * approximation 4σ² = (n_a·n_b/3)·[(N+1) − Σ(w³−w)/(N(N−1))] is one
    * shared IEEE tree over exact integers (tie cube-sum folded in
    * decimal(38,0), surfaced as a digit string — the q356 stance);
    * z = (2U_A − n_a·n_b)/√(4σ²), flagged at [[MwCritAlpha05]].
    * Degenerate slices (an empty half, or a single tied value making
    * σ = 0) leave z NULL and the flag false. Envelope: rank-sum terms
    * ≤ 2·n_a·N stay in long to ~2·10⁹ docs/slice (the q332 bound).
    * Scale: q332's exact shape — census, one keyed prefix window over
    * domain-bounded rows, one agg. */
  def mannWhitneyU(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val half = driftHalfCol
    val census = Tables.documents(s, dir)
      .select($"lang", $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", half)
      .groupBy($"lang", $"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv"))
    val w = Window.partitionBy($"lang").orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val per = census
      .withColumn("wv", $"nav" + $"nbv")
      .withColumn("cum_before", sum($"wv").over(w) - $"wv")
      .groupBy($"lang")
      .agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"),
        sum($"nav" * (lit(2L) * $"cum_before" + $"wv" + 1L)).as("rs2"),
        sum(($"wv".cast(d38) * $"wv" * $"wv" - $"wv")).as("tie"))
      .withColumn("nn", $"n_a" + $"n_b")
      .withColumn("u2_a", $"rs2" - $"n_a" * ($"n_a" + 1L))
    val fourSig2 = ($"n_a".cast("double") * $"n_b" / lit(3.0)) *
      (($"nn" + 1L).cast("double") -
        $"tie".cast("double") / ($"nn".cast("double") * ($"nn" - 1L)))
    val zCol = ($"u2_a" - $"n_a" * $"n_b").cast("double") / sqrt(fourSig2)
    val ok = $"n_a" > 0L && $"n_b" > 0L && $"nn" > 1L && fourSig2 > 0.0
    per.select($"lang", $"n_a", $"n_b", $"u2_a",
        $"tie".cast("string").as("tie_term"),
        when(ok, zCol).as("z"),
        coalesce(when(ok, abs(zCol) > lit(MwCritAlpha05)), lit(false))
          .as("shifted"))
      .orderBy($"lang")
  }

  /** Cramér's V association census between the corpus's two categorical
    * axes (language × source) — the composition diagnostic a curation
    * pipeline reads before stratifying (q84/q334): if language and
    * source are associated, a per-source cut silently shifts the
    * language mix. χ² is folded over the FULL contingency grid
    * (margins × margins, broadcast — absent cells carry expected mass
    * too, the q357 zero-fill stance) with each term one shared IEEE
    * tree over exact integers, accumulated in cell-sorted order
    * ((lang, source) array fold — fixed sequence both engines);
    * V = √(χ²/(N·(min(r,c)−1))) and the per-cell standardized residual
    * (n−e)/√e ride the rows. Degenerate single-level axis (min(r,c)=1):
    * V defines to 0. Scale: one grouped count to the ≤|langs|·|sources|
    * census; everything after is grid-bounded. */
  def cramersV(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Pinned.pin(Tables.documents(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("n"))) // read by both margins AND the grid
    val rm = cells.groupBy($"lang").agg(sum($"n").as("r_i"))
    val cm = cells.groupBy($"source").agg(sum($"n").as("c_j"))
    val tot = cells.agg(sum($"n").as("nn"),
      countDistinct($"lang").as("n_langs"),
      countDistinct($"source").as("n_sources"))
    val grid = Pinned.pin(rm.crossJoin(broadcast(cm))
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("n_obs", coalesce($"n", lit(0L)))
      .crossJoin(broadcast(tot))
      // expected mass e = r·c/N and the χ² term ((n·N − r·c)²/(N·r·c))/N
      // — one tree per cell over exact integers (r·c ≤ N² passes long to
      // ~3·10⁹ docs; beyond, promote to decimal — the q332 envelope)
      .withColumn("e", $"r_i".cast("double") * $"c_j" / $"nn".cast("double"))
      .withColumn("resid",
        ($"n_obs".cast("double") - $"e") / sqrt($"e"))) // read by the fold AND the rows
    val chi = grid
      .agg(sort_array(collect_list(struct($"lang", $"source",
        $"n_obs", $"r_i", $"c_j", $"nn"))).as("xs"))
      // (n−e)²/e = (n·N − r·c)² / (N·r·c), every input exact
      .select(aggregate($"xs", lit(0.0), (a, x) => {
        val num = (x.getField("n_obs") * x.getField("nn") -
          x.getField("r_i") * x.getField("c_j")).cast("double")
        a + num * num / (x.getField("nn").cast("double") *
          x.getField("r_i") * x.getField("c_j"))
      }).as("chi2"))
    val out = chi.crossJoin(broadcast(tot))
      .select($"chi2", $"nn".as("n_docs"), $"n_langs", $"n_sources",
        when(least($"n_langs", $"n_sources") > 1L,
          sqrt($"chi2" / ($"nn".cast("double") *
            (least($"n_langs", $"n_sources") - 1L).cast("double"))))
          .otherwise(lit(0.0)).as("cramers_v"))
    grid.select($"lang", $"source", $"n_obs", $"e".as("expected"),
        $"resid".as("std_residual"))
      .crossJoin(broadcast(out))
      .orderBy($"lang", $"source")
  }

  /** q370 checkpoint count: 16 equal-width doc-id bands. */
  val VgBands = 16L

  /** Vocabulary-growth (Heaps'-law) census — the corpus-composition
    * diagnostic a data pipeline reads before sizing a tokenizer vocab
    * (q360) or predicting dedup yield: how fast do NEW token types
    * arrive as the corpus grows? Each type is charged to its FIRST
    * document (one vocab-bounded min-aggregate — the whole curve costs
    * one token pass, never a per-checkpoint rescan), documents are
    * banded into [[VgBands]] equal-width doc-id VALUE bands (value
    * bands, not rank bands — rank checkpoints would need a corpus-wide
    * row_number; value bands are id-distribution-agnostic and
    * documented as such), and the growth curve is the banded prefix
    * census: per band, docs / token occurrences / new types /
    * cumulative totals. Heaps' qualitative law — vocabulary grows
    * SUBLINEARLY in tokens — is decided EXACTLY on the half-vs-full
    * checkpoint by cross-multiplication in decimal(38,0)
    * (V_full·N_half < N_full·V_half), riding every row with the two
    * growth ratios as shared single divides. Scale: one token pass,
    * one vocab-bounded min-agg, ≤16-row windows. */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val docs = Tables.documents(s, dir)
    val bounds = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    // integer `div` (truncating, non-negative here) — both engines agree
    def bandOf(idCol: String): Column =
      expr(s"(($idCol - lo) * $VgBands) div (hi - lo + 1)")
    val toks = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
    val perBandDocs = docs.crossJoin(broadcast(bounds))
      .groupBy(bandOf("doc_id").as("band"))
      .agg(count(lit(1)).as("n_docs"))
    val perBandToks = toks.crossJoin(broadcast(bounds))
      .groupBy(bandOf("doc_id").as("band"))
      .agg(count(lit(1)).as("n_tokens"))
    val perBandNew = toks.groupBy($"tok").agg(min($"doc_id").as("fd"))
      .crossJoin(broadcast(bounds))
      .groupBy(bandOf("fd").as("band"))
      .agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = Pinned.pin(perBandDocs
      .join(perBandToks, Seq("band"), "left")
      .join(perBandNew, Seq("band"), "left")
      .select($"band", $"n_docs",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_new_types", lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .withColumn("cum_types", sum($"n_new_types").over(w))) // read by the rows AND the ratios
    val half = VgBands / 2 - 1
    val tot = curve.agg(
      sum(when($"band" <= half, $"n_tokens").otherwise(0L)).as("n_half"),
      sum(when($"band" <= half, $"n_new_types").otherwise(0L)).as("v_half"),
      sum($"n_tokens").as("n_full"),
      sum($"n_new_types").as("v_full"))
    val rid = tot.select(
      ($"v_full".cast(d38) * $"n_half" < $"n_full".cast(d38) * $"v_half")
        .as("sublinear"),
      when($"v_half" > 0L, ratio($"v_full", $"v_half")).as("type_ratio"),
      when($"n_half" > 0L, ratio($"n_full", $"n_half")).as("token_ratio"))
    curve.crossJoin(broadcast(rid))
      .orderBy($"band")
  }

  /** q367 rerandomization count: 48 reassignments, one bit each from a
    * 60-bit md5 slice — one digest per doc buys the whole panel (the
    * q348 md5-budget stance); p-values land on the (B+1)-grid
    * {1/49..49/49}. */
  val PermB = 48

  /** Rerandomization (permutation) test for the A/B split difference —
    * the INFERENCE companion to q348's bootstrap CI: the q332 halves
    * ARE a per-doc coin flip, so the null distribution of the
    * mean-token-count difference is what OTHER coin flips produce.
    * [[PermB]] deterministic reassignments (bit b of a per-doc md5 —
    * the q260/q339 seeded stance) each yield an exact integer
    * difference numerator |S₁·n₀ − S₀·n₁|; the observed numerator is
    * compared per reassignment on the SHARED single-divide doubles
    * (identical IEEE trees both engines — a cross-multiplied exact
    * compare would need ~10⁴⁴ at corpus scale, past decimal(38,0); the
    * double compare is engine-portable by construction, documented
    * deviation). p = (1 + #{b : |Δ_b| ≥ |Δ_obs|})/(B+1), the add-one
    * convention (never exactly zero — the honest finite-B p-value).
    * Scale: one scan emits B (bit, side) partials per doc into a
    * ≤B-group map-side-combined agg — q348's exact shuffle shape. */
  def permutationTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obsHalf = driftHalfCol
    // read by the observed agg + perms
    val base = Pinned.pin(Tables.documents(s, dir)
      .select($"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", obsHalf)
      .withColumn("h", conv(substring(md5(concat(lit("perm:"),
        $"doc_id".cast("string"))), 1, 15), 16, 10).cast("long")))
    val obs = base.agg(
      sum(when($"in_a", 1L).otherwise(0L)).as("n_a"),
      sum(when($"in_a", $"ntok").otherwise(0L)).as("s_a"),
      sum(when($"in_a", 0L).otherwise(1L)).as("n_b"),
      sum(when($"in_a", 0L).otherwise($"ntok")).as("s_b"))
    val perms = base
      .select($"ntok", $"h", explode(sequence(lit(0), lit(PermB - 1))).as("b"))
      .withColumn("side", expr("shiftright(h, b) & 1"))
      .groupBy($"b")
      .agg(sum(when($"side" === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when($"side" === 1L, $"ntok").otherwise(0L)).as("s1"),
        sum(when($"side" === 1L, 0L).otherwise(1L)).as("n0"),
        sum(when($"side" === 1L, 0L).otherwise($"ntok")).as("s0"))
    val d38 = DecimalType(38, 0)
    val cmp = perms.crossJoin(broadcast(obs))
      .withColumn("d_b",
        when($"n1" > 0L && $"n0" > 0L,
          abs($"s1".cast(d38) * $"n0" - $"s0".cast(d38) * $"n1")
            .cast("double") / ($"n1".cast("double") * $"n0")))
      .withColumn("d_obs",
        when($"n_a" > 0L && $"n_b" > 0L,
          abs($"s_a".cast(d38) * $"n_b" - $"s_b".cast(d38) * $"n_a")
            .cast("double") / ($"n_a".cast("double") * $"n_b")))
      // a degenerate reassignment (all docs one side) carries no
      // difference — counted as NOT exceeding (both engines drop it)
      .agg(count(lit(1)).as("b_total"),
        sum(when($"d_b".isNotNull && $"d_obs".isNotNull &&
          $"d_b" >= $"d_obs", 1L).otherwise(0L)).as("n_geq"))
    cmp.crossJoin(broadcast(obs))
      .select($"n_a", $"n_b",
        when($"n_a" > 0L && $"n_b" > 0L,
          abs($"s_a".cast(d38) * $"n_b" - $"s_b".cast(d38) * $"n_a")
            .cast("double") / ($"n_a".cast("double") * $"n_b"))
          .as("diff_obs"),
        $"b_total", $"n_geq",
        // a degenerate OBSERVED split (n_a or n_b = 0) has no defined
        // difference — p is NULL there, mirroring the q356/q365 guards
        when($"n_a" > 0L && $"n_b" > 0L,
          ratio(lit(1L) + $"n_geq", $"b_total" + 1L)).as("p_value"))
  }

  /** χ²₀.₉₅ quantiles at df = 1..19 (public table values) — ONE shared
    * literal for q391's rejection line, consumed by both engines (the
    * q358/q383 literal stance); df ≥ 20 never rejects (documented —
    * the census would need a 20-language corpus). */
  private[queries] val Chi2Crit95: Seq[Double] = Seq(
    3.841458820694126, 5.991464547107982, 7.81472790325118,
    9.487729036781158, 11.070497693516355, 12.59158724374398,
    14.067140449340169, 15.507313055865454, 16.91897760462045,
    18.307038053275146, 19.675137572682495, 21.026069817483066,
    22.36203249482694, 23.68479130484058, 24.99579013972863,
    26.29622760486424, 27.587111638275324, 28.869299430392633,
    30.14352720564616)

  private def chi2CritCol(df: Column): Column =
    Chi2Crit95.zipWithIndex.foldLeft(lit(Double.PositiveInfinity)) {
      case (acc, (v, i)) => when(df === (i + 1).toLong, lit(v)).otherwise(acc)
    }

  private def chi2CritSql(df: String): String =
    "CASE " + Chi2Crit95.zipWithIndex.map { case (v, i) =>
      s"WHEN $df = ${i + 1} THEN CAST($v AS DOUBLE)"
    }.mkString(" ") + " ELSE CAST('Infinity' AS DOUBLE) END"

  /** QQ decile-drift census between the q332 consistent-hash halves —
    * the WHERE to the drift family's WHETHER (KS q332 / CvM q356 / MWU
    * q365 say "the halves differ"; the QQ table says at WHICH quantiles
    * and by how much): for each decile q = 1..9, the lower quantile of
    * each half selected EXACTLY on the token-count value census (rank
    * ⌈q·n/10⌉ = (q·n + 9) div 10; the run containing the rank is the
    * one-non-null conditional min — the q309/q389 selection stance),
    * with the gap and ratio per decile. Degenerate empty halves leave
    * NULL quantiles. Scale: one doc scan → value census → one prefix
    * window → a 9-way bounded explode. */
  def qqDecileDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val half = driftHalfCol
    val census = Tables.documents(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", half)
      .groupBy($"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv"))
    val w = Window.orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = Pinned.pin(census
      .withColumn("cum_a", sum($"nav").over(w))
      .withColumn("cum_b", sum($"nbv").over(w))) // read by totals + the selections
    val tot = cums.agg(coalesce(max($"cum_a"), lit(0L)).as("n_a"),
      coalesce(max($"cum_b"), lit(0L)).as("n_b"))
    cums.crossJoin(broadcast(tot))
      .select($"ntok", $"nav", $"nbv", $"cum_a", $"cum_b", $"n_a", $"n_b",
        explode(sequence(lit(1), lit(9))).as("decile"))
      .withColumn("r_a", expr("(decile * n_a + 9) div 10"))
      .withColumn("r_b", expr("(decile * n_b + 9) div 10"))
      .groupBy($"decile")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        max($"r_a").as("rank_a"), max($"r_b").as("rank_b"),
        min(when($"cum_a" - $"nav" < $"r_a" && $"cum_a" >= $"r_a" &&
          $"r_a" > 0, $"ntok")).as("q_a"),
        min(when($"cum_b" - $"nbv" < $"r_b" && $"cum_b" >= $"r_b" &&
          $"r_b" > 0, $"ntok")).as("q_b"))
      .select($"decile".cast("long").as("decile"), $"n_a", $"n_b",
        $"rank_a", $"rank_b", $"q_a", $"q_b",
        ($"q_b" - $"q_a").as("gap"),
        when($"q_a" > 0L, ratio($"q_b", $"q_a")).as("qq_ratio"))
      .orderBy($"decile")
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952, public description)
    * across LANGUAGE slices — the k-sample generalization of q365's
    * two-sample MWU, closing the rank-test family: does ANY language's
    * token-count distribution sit apart from the others? Global doubled
    * midranks from the value census (2·cum_before + w + 1 — integers
    * always), per-language exact rank sums S2_j = Σ nv·dr in
    * decimal(38,0), H = 12·Σ_j (S2_j/2)²/n_j / (N(N+1)) − 3(N+1) with
    * the Σ folded in lang-sorted order (each term one divide of exact
    * ints — the big squares route through VARCHAR on the oracle side,
    * the r18 HUGEINT-rounding lesson); tie correction
    * C = 1 − Σ(w³−w)/(N³−N) exact in decimal(38,0) (digit string),
    * H_c = H/C. Rejection at the literal χ²₀.₉₅(df) table
    * ([[Chi2Crit95]]), df = #groups − 1. Envelope: S2_j² ≤ 4N⁴ holds
    * to N ≈ 4·10⁹ docs. Scale: one scan → (lang × value) census →
    * census-bounded windows and folds. */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val cells = Pinned.pin(Tables.documents(s, dir)
      .select($"lang", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .groupBy($"lang", $"ntok").agg(count(lit(1)).as("nv"))) // read by the value census + groups
    val vals = cells.groupBy($"ntok").agg(sum($"nv").as("w"))
    val wWin = Window.orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // read by the rank join + ties
    val dr = Pinned.pin(vals
      .withColumn("cum_before", sum($"w").over(wWin) - $"w")
      .select($"ntok", (lit(2L) * $"cum_before" + $"w" + 1L).as("dr"), $"w"))
    val grp = cells.join(dr.select($"ntok", $"dr"), "ntok")
      .groupBy($"lang")
      .agg(sum($"nv").as("n_j"), sum($"nv".cast(d38) * $"dr").as("s2_j"))
    val ties = dr.agg(
      sum($"w".cast(d38) * $"w" * $"w" - $"w").as("t_cube"),
      sum($"w").as("n"))
    val st = grp
      .agg(count(lit(1)).as("n_groups"),
        sort_array(collect_list(struct($"lang", $"n_j", $"s2_j"))).as("gs"))
      .crossJoin(broadcast(ties))
      .select($"n_groups", $"n", $"t_cube",
        aggregate($"gs", lit(0.0), (a, x) =>
          a + (x.getField("s2_j") * x.getField("s2_j")).cast("double") /
            (lit(4.0) * x.getField("n_j").cast("double"))).as("sum_terms"))
    val nn1 = ($"n".cast(d38) * ($"n" + 1L)).cast("double")
    val h = lit(12.0) * $"sum_terms" / nn1 -
      lit(3.0) * ($"n" + 1L).cast("double")
    val cden = ($"n".cast(d38) * $"n" * $"n" - $"n").cast("double")
    val c = lit(1.0) - $"t_cube".cast("double") / cden
    st.filter($"n" > 1L)
      .select($"n".as("n_docs"), $"n_groups", ($"n_groups" - 1L).as("df"),
        h.as("h_stat"),
        $"t_cube".cast("string").as("tie_cube"),
        when(c > 0.0, h / c).as("h_corrected"),
        coalesce(when(c > 0.0,
          (h / c) > chi2CritCol($"n_groups" - 1L)), lit(false))
          .as("rejected"))
  }

  /** Duplicate-saturation curve over the exact token-set fingerprint —
    * the dedup family's GROWTH diagnostic (q40 measures the rate at one
    * corpus size; curation planning needs the trajectory: exact-dup
    * mass grows superlinearly as a crawl saturates): q370's
    * first-attribution trick pointed at q50's fingerprint — each
    * distinct fp is charged to the band of its FIRST doc, so the whole
    * 16-point curve costs ONE fingerprint pass, never per-band
    * rescans. Per equal-width doc-id value band: new fingerprints,
    * cumulative docs/fps, and the cumulative duplicate rate
    * (cum_docs − cum_fps)/cum_docs as exact single divides. Scale: one
    * scan → fp-keyed min-agg → ≤16-row curve. */
  def dupSaturation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val bounds = docs.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
    def bandOf(idCol: String): Column =
      expr(s"(($idCol - lo) * $VgBands) div (hi - lo + 1)")
    val fps = docs.select($"doc_id",
      TextOps.sortedTokenFingerprint(TextOps.tokens($"text")).as("fp"))
    val perBandDocs = docs.crossJoin(broadcast(bounds))
      .groupBy(bandOf("doc_id").as("band")).agg(count(lit(1)).as("n_docs"))
    val perBandNew = fps.groupBy($"fp").agg(min($"doc_id").as("fd"))
      .crossJoin(broadcast(bounds))
      .groupBy(bandOf("fd").as("band")).agg(count(lit(1)).as("n_new_fps"))
    val w = Window.orderBy($"band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBandDocs.join(perBandNew, Seq("band"), "left")
      .select($"band", $"n_docs",
        coalesce($"n_new_fps", lit(0L)).as("n_new_fps"))
      .withColumn("cum_docs", sum($"n_docs").over(w))
      .withColumn("cum_fps", sum($"n_new_fps").over(w))
      .select($"band", $"n_docs", $"n_new_fps", $"cum_docs", $"cum_fps",
        ratio($"n_docs" - $"n_new_fps", $"n_docs").as("band_dup_rate"),
        ratio($"cum_docs" - $"cum_fps", $"cum_docs").as("cum_dup_rate"))
      .orderBy($"band")
  }

  /** One-way ANOVA / effect-size census across language slices — the
    * PARAMETRIC companion of q391's rank test (KW asks about
    * distributions; ANOVA prices how much of the token-count VARIANCE
    * language explains — η² is the mixture designer's number): from
    * exact per-group moments (n_j, S_j, and the global Q = Σx²),
    * ssb_part = Σ_j S_j²/n_j folds in lang-sorted order (each term one
    * divide of exact ints, squares VARCHAR-routed in the oracle),
    * SSB = ssb_part − S²/N, SSW = Q − ssb_part, F = (SSB/(k−1)) /
    * (SSW/(N−k)), η² = SSB/SST — one fixed IEEE tree each,
    * NULL-guarded on k ≤ 1, N ≤ k, or zero within-variance. (No
    * rejection flag: the F quantile is a two-df surface, not a literal
    * table — the η² effect size is the scale-free headline instead.)
    * Envelope: S_j² ≤ N²·max_ntok² in decimal(38,0). Scale: one scan →
    * per-lang moment agg → a ≤|langs| fold. */
  def anovaEffect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = Tables.documents(s, dir)
      .select($"lang", size(TextOps.tokens($"text")).cast("long").as("x"))
    val grp = base.groupBy($"lang")
      .agg(count(lit(1)).as("n_j"), sum($"x".cast(d38)).as("s_j"))
    val tot = base.agg(count(lit(1)).as("n"), sum($"x".cast(d38)).as("s"),
      sum($"x".cast(d38) * $"x").as("q"))
    val st = grp
      .agg(count(lit(1)).as("n_groups"),
        sort_array(collect_list(struct($"lang", $"n_j", $"s_j"))).as("gs"))
      .crossJoin(broadcast(tot))
      .select($"n_groups", $"n", $"s", $"q",
        aggregate($"gs", lit(0.0), (a, x) =>
          a + (x.getField("s_j") * x.getField("s_j")).cast("double") /
            x.getField("n_j").cast("double")).as("ssb_part"))
    val sst = $"q".cast("double") -
      ($"s" * $"s").cast("double") / $"n".cast("double")
    val ssb = $"ssb_part" -
      ($"s" * $"s").cast("double") / $"n".cast("double")
    val ssw = $"q".cast("double") - $"ssb_part"
    st.filter($"n" > 0L)
      .select($"n".as("n_docs"), $"n_groups",
        ssb.as("ss_between"), ssw.as("ss_within"),
        when($"n_groups" > 1L && $"n" > $"n_groups" && ssw > 0.0,
          (ssb / ($"n_groups" - 1L).cast("double")) /
            (ssw / ($"n" - $"n_groups").cast("double"))).as("f_stat"),
        when(sst > 0.0, ssb / sst).as("eta_sq"))
  }

  /** Cohen's d / Hedges' g effect size between the q332 halves — the
    * drift family's MAGNITUDE: q332/q356/q365/q367 say whether the
    * halves differ; d says by how many pooled standard deviations (the
    * number a go/no-go decision reads, sample-size-free). From exact
    * per-half moments: s² = (n·Q − S²)/(n(n−1)) (cleared-denominator
    * numerators in decimal(38,0), VARCHAR-routed in the oracle),
    * pooled s²_p = ((n_a−1)s²_a + (n_b−1)s²_b)/(n_a+n_b−2),
    * d = (mean_a − mean_b)/s_p, and the small-sample Hedges correction
    * g = d·(1 − 3/(4(n_a+n_b) − 9)) — fixed IEEE trees over exactly
    * convertible integers. NULL on a degenerate half or zero pooled
    * variance. Scale: one scan → one 6-cell agg. */
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val half = driftHalfCol
    val g = Tables.documents(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("x"))
      .withColumn("in_a", half)
      .agg(
        sum(when($"in_a", 1L).otherwise(0L)).as("n_a"),
        sum(when($"in_a", $"x".cast(d38)).otherwise(lit(BigDecimal(0))
          .cast(d38))).as("s_a"),
        sum(when($"in_a", $"x".cast(d38) * $"x")
          .otherwise(lit(BigDecimal(0)).cast(d38))).as("q_a"),
        sum(when($"in_a", 0L).otherwise(1L)).as("n_b"),
        sum(when($"in_a", lit(BigDecimal(0)).cast(d38))
          .otherwise($"x".cast(d38))).as("s_b"),
        sum(when($"in_a", lit(BigDecimal(0)).cast(d38))
          .otherwise($"x".cast(d38) * $"x")).as("q_b"))
    val varA = ($"n_a".cast(d38) * $"q_a" - $"s_a" * $"s_a").cast("double") /
      ($"n_a".cast(d38) * ($"n_a" - 1L)).cast("double")
    val varB = ($"n_b".cast(d38) * $"q_b" - $"s_b" * $"s_b").cast("double") /
      ($"n_b".cast(d38) * ($"n_b" - 1L)).cast("double")
    val sp2 = (($"n_a" - 1L).cast("double") * varA +
      ($"n_b" - 1L).cast("double") * varB) /
      ($"n_a" + $"n_b" - 2L).cast("double")
    val dEff = ($"s_a".cast("double") / $"n_a".cast("double") -
      $"s_b".cast("double") / $"n_b".cast("double")) / sqrt(sp2)
    val ok = $"n_a" > 1L && $"n_b" > 1L
    g.select($"n_a", $"n_b",
      when($"n_a" > 0L, $"s_a".cast("double") / $"n_a".cast("double"))
        .as("mean_a"),
      when($"n_b" > 0L, $"s_b".cast("double") / $"n_b".cast("double"))
        .as("mean_b"),
      when(ok, sp2).as("pooled_var"),
      when(ok && sp2 > 0.0, dEff).as("cohen_d"),
      when(ok && sp2 > 0.0,
        dEff * (lit(1.0) - lit(3.0) /
          (lit(4.0) * ($"n_a" + $"n_b").cast("double") - lit(9.0))))
        .as("hedges_g"))
  }

  /** Effective sample size / design effect per source (Kish 1965,
    * public definition) — the weighting-cost diagnostic a curation
    * pipeline reads after any length- or quality-weighted sampling:
    * with per-doc weights w (token counts here — the weight a
    * token-budget sampler implicitly applies), ESS = (Σw)²/Σw² is how
    * many EQUAL documents the weighted sample is worth, and the design
    * effect deff = n·Σw²/(Σw)² prices the variance inflation. Both are
    * EXACT RATIONALS over two integer moments — one divide each (the
    * q388 log-free stance), big casts VARCHAR-routed in the oracle.
    * ess_ratio = ESS/n rides (1 ⇔ equal weights; → 1/n under one
    * dominant doc). Pooled global row values ride every row. Scale:
    * one scan → per-source 3-cell moments. */
  def effectiveSampleSize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    // read per-source + pooled
    val base = Pinned.pin(Tables.documents(s, dir)
      .select($"source", size(TextOps.tokens($"text")).cast("long").as("w")))
    val moments = Seq(count(lit(1)).as("n"), sum($"w".cast(d38)).as("sw"),
      sum($"w".cast(d38) * $"w").as("sw2"))
    // ONE projection tree over the (n, sw, sw2) moments for BOTH the
    // per-source and the pooled branch (r18 ADVICE: the two inline
    // copies could drift apart)
    def panel(agged: DataFrame, keys: Column*): DataFrame = agged
      .select(keys ++ Seq($"n", $"sw".cast("string").as("sum_w"),
        when($"sw2" > 0,
          ($"sw" * $"sw").cast("double") / $"sw2".cast("double")).as("ess"),
        when($"sw" > 0,
          ($"n".cast(d38) * $"sw2").cast("double") /
            ($"sw" * $"sw").cast("double")).as("deff"),
        when($"sw2" > 0 && $"n" > 0L,
          ($"sw" * $"sw").cast("double") / $"sw2".cast("double") /
            $"n".cast("double")).as("ess_ratio")): _*)
    val per = panel(
      base.groupBy($"source").agg(moments.head, moments.tail: _*), $"source")
    val glob = panel(base.agg(moments.head, moments.tail: _*))
      .select($"ess".as("ess_global"), $"deff".as("deff_global"))
    per.crossJoin(broadcast(glob)).orderBy($"source")
  }

  /** Brown–Forsythe equal-variance test (Brown & Forsythe 1974, public
    * definition) between the drift halves — the SPREAD companion the
    * location family lacks (q394 asks whether the half MEANS differ;
    * variance drift is invisible to it and breaks samplers first):
    * one-way ANOVA on the median-centered absolute deviations
    * z = |x − med_h|, median-based (not mean-based Levene) for the
    * robustness that makes BF the production default. Per half, the
    * lower median is selected EXACTLY on the value census (rank
    * (n+1) div 2; the run containing the rank is a one-non-null
    * conditional min — the q389 stance); the deviation moments
    * Σn·|v−med| and Σn·|v−med|² fold exactly (decimal(38,0),
    * VARCHAR-routed), and with k = 2 groups the BF statistic is the
    * pooled t² — the q394 trees pointed at deviations. NULL on a
    * degenerate half (n ≤ 1) or zero pooled spread. Scale: one scan →
    * bounded value census → two exact selections → one 6-cell moment
    * fold. */
  def brownForsytheDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = Pinned.pin(Tables.documents(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", driftHalfCol)
      .groupBy($"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv"))) // read by cums AND the dev moments
    val w = Window.orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = census
      .withColumn("cum_a", sum($"nav").over(w))
      .withColumn("cum_b", sum($"nbv").over(w))
    val tot = census.agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"))
    // lower-median ranks via integer div (long / in Spark is DOUBLE
    // division — the q370 trap)
    val med = cums.crossJoin(broadcast(tot))
      .withColumn("ra", expr("(n_a + 1) div 2"))
      .withColumn("rb", expr("(n_b + 1) div 2"))
      .agg(min(when($"cum_a" >= $"ra" && $"ra" >= 1L, $"ntok")).as("med_a"),
        min(when($"cum_b" >= $"rb" && $"rb" >= 1L, $"ntok")).as("med_b"))
    val mom = census.crossJoin(broadcast(med))
      .select($"nav", $"nbv",
        abs($"ntok" - $"med_a").as("da"), abs($"ntok" - $"med_b").as("db"))
      .agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"),
        sum($"nav".cast(d38) * $"da").as("sa"),
        sum($"nav".cast(d38) * $"da" * $"da").as("qa"),
        sum($"nbv".cast(d38) * $"db").as("sb"),
        sum($"nbv".cast(d38) * $"db" * $"db").as("qb"))
    val varA = ($"n_a".cast(d38) * $"qa" - $"sa" * $"sa").cast("double") /
      ($"n_a".cast(d38) * ($"n_a" - 1L)).cast("double")
    val varB = ($"n_b".cast(d38) * $"qb" - $"sb" * $"sb").cast("double") /
      ($"n_b".cast(d38) * ($"n_b" - 1L)).cast("double")
    val sp2 = (($"n_a" - 1L).cast("double") * varA +
      ($"n_b" - 1L).cast("double") * varB) /
      ($"n_a" + $"n_b" - 2L).cast("double")
    val ma = $"sa".cast("double") / $"n_a".cast("double")
    val mb = $"sb".cast("double") / $"n_b".cast("double")
    val f = (ma - mb) * (ma - mb) /
      (sp2 * (lit(1.0) / $"n_a".cast("double") +
        lit(1.0) / $"n_b".cast("double")))
    val ok = $"n_a" > 1L && $"n_b" > 1L
    mom.crossJoin(broadcast(med))
      .select($"n_a", $"n_b", $"med_a", $"med_b",
        when($"n_a" > 0L, ma).as("mean_absdev_a"),
        when($"n_b" > 0L, mb).as("mean_absdev_b"),
        when(ok, sp2).as("pooled_var"),
        when(ok && sp2 > 0.0, f).as("bf_f"))
  }

  /** Jarque–Bera normality census (Jarque & Bera 1980, public
    * definition) of the per-lang token-count distributions — the
    * distributional-assumption audit for everything downstream that
    * implicitly assumes near-normal lengths (q394's d, q393's F,
    * truncation policies): JB = n(S²/6 + (K−3)²/24) over exact central
    * moments with denominators CLEARED — d_v = n·v − Σ gives
    * Σc·d² = n²M₂, Σc·d³ = n³M₃, Σc·d⁴ = n⁴M₄ folded exactly in
    * decimal(38,0) over the value census (digit strings; the scale
    * powers cancel: S = √n·Σd³/(Σd²)^1.5 — the q387 three-sqrt tree —
    * and K = n·Σd⁴/(Σd²)², the two-cast product), rejection at the
    * literal χ²₀.₉₅(2). Zero-variance or n < 2 slices keep NULLs.
    * Envelope: Σc·d⁴ ≤ n⁵·v_max⁴ holds in d38 to ~10⁶ docs/slice at
    * v_max 10³ — past that, pre-center on the integer mean-floor and
    * carry the remainder (documented, not built). Scale: one scan →
    * bounded value census → a 4-cell fold per lang. */
  def jarqueBeraCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = Tables.documents(s, dir)
      .select($"lang", size(TextOps.tokens($"text")).cast("long").as("v"))
      .groupBy($"lang", $"v").agg(count(lit(1)).as("c"))
    val tot = census.groupBy($"lang")
      .agg(sum($"c").as("n"), sum($"c".cast(d38) * $"v").as("sv"))
    val mom = census.join(tot, Seq("lang"))
      .select($"lang", $"n", $"c",
        ($"n".cast(d38) * $"v" - $"sv").as("d"))
      .groupBy($"lang")
      .agg(max($"n").as("n"),
        sum($"c".cast(d38) * $"d" * $"d").as("d2"),
        sum($"c".cast(d38) * $"d" * $"d" * $"d").as("d3"),
        sum($"c".cast(d38) * $"d" * $"d" * $"d" * $"d").as("d4"))
    val skew = (sqrt($"n".cast("double")) * $"d3".cast("double")) /
      (sqrt($"d2".cast("double")) * sqrt($"d2".cast("double")) *
        sqrt($"d2".cast("double")))
    val kurt = ($"n".cast(d38) * $"d4").cast("double") /
      ($"d2".cast("double") * $"d2".cast("double"))
    val jb = $"n".cast("double") *
      (skew * skew / lit(6.0) +
        (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(24.0))
    val ok = $"n" > 1L && $"d2" > 0
    mom.select($"lang", $"n".as("n_docs"),
      $"d2".cast("string").as("m2_num"),
      when(ok, skew).as("skewness"),
      when(ok, kurt).as("kurtosis"),
      when(ok, jb).as("jb_stat"),
      coalesce(when(ok, jb > lit(Chi2Crit95(1))), lit(false))
        .as("nonnormal"))
      .orderBy($"lang")
  }

  /** Cliff's delta (Cliff 1993, public definition) between the drift
    * halves — the ORDINAL effect size beside q394's Cohen's d (d assumes
    * interval scale and near-normality; δ = P(X>Y) − P(X<Y) is the
    * dominance probability, exactly what a rank test like q365 is
    * powered against, and the number to report with it): over the
    * token-count VALUE census, δ = (Σ_{u>v} nav_u·nbv_v −
    * Σ_{u<v} nav_u·nbv_v) / (n_a·n_b) — numerators folded exactly in
    * decimal(38,0) over the census×census pairs (bounded by the value
    * DOMAIN squared, the q376 stance — never doc×doc), surfaced as
    * digit strings, δ as ONE shared divide, and the standard
    * |δ| < 0.147 / 0.33 / 0.474 magnitude labels (Romano et al. 2006
    * literals) as an identical CASE tree. An empty half leaves δ NULL
    * and the label 'undefined'. Scale: one scan → bounded census →
    * census² broadcast join → one row. */
  def cliffsDeltaDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = Pinned.pin(Tables.documents(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", driftHalfCol)
      .groupBy($"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv"))) // both pair sides + the totals
    val tot = census.agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"))
    val pairs = census
      .crossJoin(broadcast(census.select($"ntok".as("vb"), $"nbv".as("nbvb"))))
      .agg(
        coalesce(sum(when($"ntok" > $"vb", $"nav".cast(d38) * $"nbvb")),
          lit(BigDecimal(0)).cast(d38)).as("gt"),
        coalesce(sum(when($"ntok" < $"vb", $"nav".cast(d38) * $"nbvb")),
          lit(BigDecimal(0)).cast(d38)).as("lt"))
    val delta = ($"gt" - $"lt").cast("double") /
      ($"n_a".cast(d38) * $"n_b").cast("double")
    val mag = when(abs(delta) < 0.147, "negligible")
      .when(abs(delta) < 0.33, "small")
      .when(abs(delta) < 0.474, "medium").otherwise("large")
    pairs.crossJoin(broadcast(tot))
      .select($"n_a", $"n_b",
        $"gt".cast("string").as("gt_num"), $"lt".cast("string").as("lt_num"),
        when($"n_a" > 0L && $"n_b" > 0L, delta).as("cliffs_delta"),
        when($"n_a" > 0L && $"n_b" > 0L, mag).otherwise("undefined")
          .as("magnitude"))
  }

  /** Hellinger distance between the drift halves' LANGUAGE mixtures
    * (Hellinger 1909 / Bhattacharyya affinity, public definitions) —
    * the bounded geometric drift measure beside q304's total variation
    * (TV prices the worst single cell; Hellinger's √p·√q affinity
    * weights small-mass cells by their RATIO, the sensitivity a
    * mixture rebalance audit wants): BC = Σ_i √(na_i·nb_i)/√(N_A·N_B)
    * over the per-lang census, H = √(max(0, 1 − BC)). The per-cell
    * products are exact integers in decimal(38,0) (VARCHAR-routed);
    * each √ is one fixed IEEE op and the Σ folds in lang-sorted order
    * (the q368 fold stance); BC and H are shared trees. Identical
    * mixtures give BC = 1 (every cell √(x²) = x exact) — H = 0
    * spec-pinned; an empty half leaves both NULL. Scale: one scan →
    * |langs| census → one array-row fold. */
  def hellingerLangDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val cells = Tables.documents(s, dir)
      .select($"lang", $"doc_id")
      .withColumn("in_a", driftHalfCol)
      .groupBy($"lang")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("na"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nb"))
    val folded = cells
      .agg(sort_array(collect_list(struct($"lang", $"na", $"nb"))).as("xs"),
        sum($"na").as("n_a"), sum($"nb").as("n_b"),
        count(lit(1)).as("n_langs"))
      .select($"n_a", $"n_b", $"n_langs",
        aggregate($"xs", lit(0.0), (a, x) =>
          a + sqrt((x.getField("na").cast(d38) * x.getField("nb"))
            .cast("double"))).as("bc_num"))
    val bc = $"bc_num" / sqrt(($"n_a".cast(d38) * $"n_b").cast("double"))
    val ok = $"n_a" > 0L && $"n_b" > 0L
    folded.select($"n_a", $"n_b", $"n_langs",
      when(ok, bc).as("bhattacharyya"),
      when(ok, sqrt(greatest(lit(0.0), lit(1.0) - bc))).as("hellinger"))
  }

  /** The drift-half token-count VALUE census — (ntok, nav, nbv) with
    * nav/nbv the half-A/half-B doc counts at each value — shared by the
    * q418/q419/q420/q428 family so all four read the SAME split and
    * the SAME value domain (the [[driftHalfCol]] stance: one corpus
    * pass, a domain-bounded census after). Checkpointed: every consumer
    * reads it at least twice (pair sides, totals, windows). */
  private def driftNtokCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Pinned.pin(Tables.documents(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("in_a", driftHalfCol)
      .groupBy($"ntok")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("nav"),
        sum(when($"in_a", 0L).otherwise(1L)).as("nbv")))
  }

  /** 1-Wasserstein (earth-mover) distance between the drift halves
    * (Monge–Kantorovich / Vaserstein 1969, public definition) — the
    * INTEGRATED-L1 member of the CDF-gap family: q332's KS prices the
    * single worst gap sup|F_A − F_B|, q356's CvM the rank-integrated
    * square; W₁ = ∫|F_A − F_B| dv is the total probability mass times
    * the distance it must move — the number with UNITS (tokens), which
    * is what a mixture owner reads to size a drift ("the length
    * distribution moved 1.8 tokens"). Over the token-count value census
    * the integral is a finite sum of rectangle areas: with cum_a/cum_b
    * the running half counts at census value v and gap = next_v − v,
    * W₁·n_a·n_b = Σ_v |cum_a·n_b − cum_b·n_a| · gap — every term an
    * exact integer folded in decimal(38,0) (VARCHAR-routed digits under
    * the gate), ONE shared IEEE divide at the end. Point-mass law
    * (spec): half A all at p, half B all at q ⇒ W₁ = |q − p| exactly;
    * identical halves ⇒ 0 exactly; an empty half leaves W₁ NULL.
    * Envelope: |cum·n| ≤ n² ≈ 10¹⁸ per cell, × gap × |domain| stays
    * under 10³⁸ past 10¹⁴ docs/half. Scale: one corpus pass → bounded
    * census → one census-ordered window → one row. */
  def wassersteinDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = driftNtokCensus(s, dir)
    val w = Window.orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = census.agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"),
      count(lit(1)).as("n_values"))
    val terms = census
      .withColumn("cum_a", sum($"nav").over(w))
      .withColumn("cum_b", sum($"nbv").over(w))
      .withColumn("next_v", lead($"ntok", 1).over(Window.orderBy($"ntok")))
    val g = terms
      .crossJoin(broadcast(tot.select($"n_a".as("ta"), $"n_b".as("tb"))))
      .agg(coalesce(sum(when($"next_v".isNotNull,
        abs($"cum_a".cast(d38) * $"tb" - $"cum_b".cast(d38) * $"ta") *
          ($"next_v" - $"ntok"))),
        lit(BigDecimal(0)).cast(d38)).as("w1_num"))
    val ok = $"n_a" > 0L && $"n_b" > 0L
    g.crossJoin(broadcast(tot)).select($"n_a", $"n_b", $"n_values",
      $"w1_num".cast("string").as("w1_num"),
      when(ok, $"w1_num".cast("double") /
        ($"n_a".cast(d38) * $"n_b").cast("double")).as("wasserstein_1"))
  }

  /** Energy distance between the drift halves (Székely & Rizzo 2004,
    * public definition) — the L2 companion of q418's W₁ on the SAME
    * census: D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'| (in one dimension
    * identically 2∫(F_A−F_B)² dv — the unbinned Cramér distance, where
    * q356's CvM integrates against the pooled RANK measure). Each
    * expectation's numerator is exact — sab = Σ_{u,v} nav_u·nbv_v·|u−v|
    * etc. folded in decimal(38,0) over the census×census pairs (the
    * q403 dominance stance: bounded by the value DOMAIN squared, never
    * doc×doc, all three sums in ONE pair pass) — then D² is the fixed
    * IEEE tree 2·(sab/(n_a·n_b)) − saa/n_a² − sbb/n_b² (identical
    * halves make the three divides bit-equal, so D² = 0 exactly —
    * spec-pinned) and the test statistic T = n_a·n_b/(n_a+n_b) · D²
    * rides alongside. Point-mass law (spec): D² = 2|q−p| = 2·W₁.
    * Empty halves leave both NULL. Envelope: sab ≤ n²·|domain| — exact
    * past 10¹⁵ docs/half. Scale: one corpus pass → bounded census →
    * census² broadcast pair agg → one row. */
  def energyDistanceDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = driftNtokCensus(s, dir)
    val pairs = census
      .crossJoin(broadcast(census.select($"ntok".as("vb"),
        $"nav".as("navb"), $"nbv".as("nbvb"))))
      .withColumn("dv", abs($"ntok" - $"vb").cast(d38))
      .agg(
        coalesce(sum($"nav".cast(d38) * $"nbvb" * $"dv"),
          lit(BigDecimal(0)).cast(d38)).as("sab"),
        coalesce(sum($"nav".cast(d38) * $"navb" * $"dv"),
          lit(BigDecimal(0)).cast(d38)).as("saa"),
        coalesce(sum($"nbv".cast(d38) * $"nbvb" * $"dv"),
          lit(BigDecimal(0)).cast(d38)).as("sbb"))
    val tot = census.agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"))
    val d2 = lit(2.0) * ($"sab".cast("double") /
        ($"n_a".cast(d38) * $"n_b").cast("double")) -
      $"saa".cast("double") / ($"n_a".cast(d38) * $"n_a").cast("double") -
      $"sbb".cast("double") / ($"n_b".cast(d38) * $"n_b").cast("double")
    val tStat = ($"n_a".cast(d38) * $"n_b").cast("double") /
      ($"n_a" + $"n_b").cast("double") * d2
    val ok = $"n_a" > 0L && $"n_b" > 0L
    pairs.crossJoin(broadcast(tot))
      .select($"n_a", $"n_b",
        $"sab".cast("string").as("sab_num"),
        $"saa".cast("string").as("saa_num"),
        $"sbb".cast("string").as("sbb_num"),
        when(ok, d2).as("energy_d2"),
        when(ok, tStat).as("energy_t"))
  }

  /** Hodges–Lehmann shift estimator (Hodges & Lehmann 1963, public
    * definition) between the drift halves — the location ESTIMATE the
    * rank tests leave implicit (q365's U says whether a shift exists,
    * q420's t gives the mean difference that outliers own; HL = the
    * median of all pairwise differences X_a − Y_b is the robust shift
    * in TOKEN units, the number to act on when the drift family
    * trips). Never the doc×doc pair set: over the shared
    * [[driftNtokCensus]] the difference multiset collapses to a
    * weighted census — diff d with weight Σ nav_u·nbv_v over u−v = d,
    * domain-bounded by 2·|value domain| — and the median is an EXACT
    * rank selection (the q309/q341 lower-median stance: element
    * ⌈N/2⌉ of the N = n_a·n_b pairs, a cum ≥ rank scan, no float
    * averaging). An empty half leaves the estimate NULL. Envelope:
    * pair weights sum to n_a·n_b — long holds to ~3·10⁹ docs/half
    * (the q376 bound). Scale: one corpus pass → census² broadcast
    * pair fold → diff census window → one row. */
  def hodgesLehmannShift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val census = driftNtokCensus(s, dir)
    val diffs = Pinned.pin(census
      .crossJoin(broadcast(census.select($"ntok".as("vb"),
        $"nbv".as("nbvb"))))
      .filter($"nav" > 0L && $"nbvb" > 0L)
      .groupBy(($"ntok" - $"vb").as("diff"))
      .agg(sum($"nav" * $"nbvb").as("w"))) // read by the pair count AND the scan
    val tot = census.agg(sum($"nav").as("n_a"), sum($"nbv").as("n_b"))
    val np = diffs.agg(coalesce(sum($"w"), lit(0L)).as("n_pairs"))
    val w = Window.orderBy($"diff")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hl = diffs.crossJoin(broadcast(np))
      .withColumn("cum", sum($"w").over(w))
      .withColumn("rk", expr("(n_pairs + 1) div 2"))
      .agg(min(when($"cum" >= $"rk" && $"rk" >= 1L, $"diff"))
        .as("hl_shift_tokens"))
    hl.crossJoin(broadcast(np)).crossJoin(broadcast(tot))
      .select($"n_a", $"n_b", $"n_pairs", $"hl_shift_tokens")
  }

  /** Welch's unequal-variance t-test (Welch 1947 / Satterthwaite 1946,
    * public definitions) between the drift halves — the PARAMETRIC
    * location test beside q365's rank-based U (U is the robust default;
    * Welch's t is the test with the mean-difference EFFECT in token
    * units, and the one q394's Cohen's d implicitly standardizes): over
    * the shared [[driftNtokCensus]], the per-half moment sums n, Σv·c,
    * Σv²·c are exact decimal(38,0) (VARCHAR-routed digits under the
    * gate), the variance numerators vnum = n·Σv²c − (Σvc)² exact
    * integers, and the t/df trees are fixed IEEE over three exact
    * divides: r_h = vnum_h/(n_h²(n_h−1)) (= s_h²/n_h),
    * t = Δmean/√(r_a+r_b), ν = (r_a+r_b)²/(r_a²/(n_a−1)+r_b²/(n_b−1)).
    * `shifted` flags |t| > [[MwCritAlpha05]] — the large-sample normal
    * line (ν ≥ min(n)−1 is in the thousands at any gated SF; the exact
    * t quantile differs in the 4th decimal there). Degenerate inputs —
    * a half with < 2 docs, or both halves constant (vnum_a = vnum_b =
    * 0) — leave t and ν NULL and the flag false. Envelope: Σv²c ≤
    * n·maxv² ≈ 10²⁹ at 10⁹ docs; vnum ≤ n·Σv²c ≈ 10³⁸ holds to ~10⁹
    * docs/half with 10⁵-token docs. Scale: one corpus pass → bounded
    * census → one moment agg → one row. */
  def welchTTestDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val census = driftNtokCensus(s, dir)
    val g = census.agg(
      sum($"nav").as("n_a"), sum($"nbv").as("n_b"),
      coalesce(sum($"nav".cast(d38) * $"ntok"), lit(BigDecimal(0)).cast(d38))
        .as("s1a"),
      coalesce(sum($"nav".cast(d38) * $"ntok" * $"ntok"),
        lit(BigDecimal(0)).cast(d38)).as("s2a"),
      coalesce(sum($"nbv".cast(d38) * $"ntok"), lit(BigDecimal(0)).cast(d38))
        .as("s1b"),
      coalesce(sum($"nbv".cast(d38) * $"ntok" * $"ntok"),
        lit(BigDecimal(0)).cast(d38)).as("s2b"))
    val v = g.select($"n_a", $"n_b", $"s1a", $"s1b",
      ($"n_a".cast(d38) * $"s2a" - $"s1a" * $"s1a").as("va_num"),
      ($"n_b".cast(d38) * $"s2b" - $"s1b" * $"s1b").as("vb_num"))
    val ra = $"va_num".cast("double") /
      ($"n_a".cast(d38) * $"n_a" * ($"n_a" - 1L)).cast("double")
    val rb = $"vb_num".cast("double") /
      ($"n_b".cast(d38) * $"n_b" * ($"n_b" - 1L)).cast("double")
    val md = ($"s1a" * $"n_b" - $"s1b" * $"n_a").cast("double") /
      ($"n_a".cast(d38) * $"n_b").cast("double")
    val t = md / sqrt(ra + rb)
    val df = (ra + rb) * (ra + rb) /
      (ra * ra / ($"n_a" - 1L).cast("double") +
        rb * rb / ($"n_b" - 1L).cast("double"))
    val ok = $"n_a" > 1L && $"n_b" > 1L && ($"va_num" > 0 || $"vb_num" > 0)
    v.select($"n_a", $"n_b",
      $"va_num".cast("string").as("va_num"),
      $"vb_num".cast("string").as("vb_num"),
      when($"n_a" > 0L && $"n_b" > 0L, md).as("mean_diff"),
      when(ok, t).as("t_welch"),
      when(ok, df).as("df_welch"),
      coalesce(when(ok, abs(t) > lit(MwCritAlpha05)), lit(false))
        .as("shifted"))
  }

  def distributionDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val half = driftHalfCol
    val cells = Tables.documents(s, dir)
      .select($"lang", $"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .withColumn("band",
        when($"ntok" >= 40, "long").when($"ntok" >= 20, "mid")
          .otherwise("short"))
      .withColumn("in_a", half)
      .groupBy($"lang", $"band")
      .agg(sum(when($"in_a", 1L).otherwise(0L)).as("n_a"),
        sum(when($"in_a", 0L).otherwise(1L)).as("n_b"))
    val tot = cells.agg(sum($"n_a").as("na"), sum($"n_b").as("nb"))
    val withTerm = cells.crossJoin(broadcast(tot))
      .withColumn("drift_num",
        abs($"n_a".cast(d38) * $"nb" - $"n_b".cast(d38) * $"na"))
    val tv = withTerm.agg(
      sum($"drift_num").as("sum_num"),
      max($"na").as("na"), max($"nb").as("nb"))
    withTerm.crossJoin(broadcast(tv.select(
        (($"sum_num").cast("double")
          / (lit(2.0) * $"na" * $"nb")).as("tv_distance"))))
      .select($"lang", $"band", $"n_a", $"n_b",
        $"drift_num".cast("long").as("drift_num"), $"tv_distance")
      .orderBy($"lang", $"band")
  }

  /** Boilerplate prefix/suffix census — the header/footer detector of
    * C4-class cleaning (public C4/CCNet descriptions strip repeated
    * page furniture): documents that OPEN or CLOSE with the same 3-token
    * shingle share boilerplate, and the census ranks those shingles so a
    * cleaning pass can strip them. Per eligible doc (≥3 tokens) one head
    * and one tail shingle — NOT the all-positions shingle stream, so the
    * working set is 2 rows/doc at any SF; two (kind, shingle) counts,
    * screened to n_docs ≥ 2, with the share of eligible docs (exact
    * integer ratio in one IEEE divide). Deterministic total order
    * (kind, n_docs desc, shingle). Scale: one scan, two map-side-
    * combinable aggs of 2·|docs| short rows, a broadcast 1-row
    * eligible-count — no joins on the growing side. */
  def boilerplateCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") >= 3)
      .select(
        concat_ws(" ", element_at($"toks", 1), element_at($"toks", 2),
          element_at($"toks", 3)).as("head_sh"),
        concat_ws(" ", element_at($"toks", -3), element_at($"toks", -2),
          element_at($"toks", -1)).as("tail_sh"))
    val nElig = base.agg(count(lit(1)).as("n_eligible"))
    def census(col: String, kind: String) = base
      .groupBy(base(col).as("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2L)
      .select(lit(kind).as("kind"), $"shingle", $"n_docs")
    census("head_sh", "head").unionAll(census("tail_sh", "tail"))
      .crossJoin(broadcast(nElig))
      .select($"kind", $"shingle", $"n_docs",
        ratio($"n_docs", $"n_eligible").as("share"))
      .orderBy($"kind", $"n_docs".desc, $"shingle")
  }

  /** Matryoshka truncation census — the dimensionality-reduction audit
    * MRL-style embeddings (Matryoshka Representation Learning, public
    * arXiv description) are deployed with: when an index keeps only the
    * first k dims of each vector, the cosine between the full vector
    * and its zero-padded truncation collapses to ‖a₁..k‖/‖a‖, so the
    * retained-norm fraction at each prefix IS the truncation quality —
    * no pairwise math needed. Per vector: r₈/r₁₆/r₃₂ plus the smallest
    * audited prefix reaching 90 % (the "how many dims does THIS corpus
    * need" column an index-sizing decision reads). Float products,
    * sequential double fold (the q45/q78 fixed-order contract — every
    * ratio is one identical IEEE tree in both engines, so the census
    * hash-compares despite being float-valued); zero vectors report 1.0
    * (truncation loses nothing). SCAN-ONLY: one pass, no shuffle, no
    * join — O(corpus) at any SF. */
  def matryoshkaCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def r(k: Int): Column = {
      val part = VectorOps.normSq(slice($"embedding", 1, k))
      val full = VectorOps.normSq($"embedding")
      when(full === 0.0, lit(1.0)).otherwise(sqrt(part) / sqrt(full))
    }
    Tables.embeddings(s, dir)
      .select($"vec_id", r(8).as("r8"), r(16).as("r16"), r(32).as("r32"))
      .withColumn("dims_for_90pct",
        when($"r8" >= 0.9, 8L).when($"r16" >= 0.9, 16L)
          .when($"r32" >= 0.9, 32L).otherwise(64L))
      .orderBy($"vec_id")
  }

  /** Consistent hash sampling — the holdout-set property RNG sampling
    * cannot give: membership is a PURE FUNCTION of the stable id
    * (md5 prefix under a threshold), so a document's sample membership
    * never changes as the corpus grows, across engines, or across runs —
    * and samples NEST (the 5 % sample is a subset of the 10 % by
    * construction, since both are thresholds on the same hash). The
    * declared output carries the per-threshold census AND the nesting
    * violation count (asserted 0 in the oracle), making the subset
    * property a hash-compared contract. One scan, integer thresholds on
    * the first 6 hex digits (16⁶ buckets — granular to 0.0001 %). */
  def consistentHashSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("sample:"),
      $"doc_id".cast("string"))), 1, 6), 16, 10).cast("long")
    val space = 16777216L // 16^6
    val d = Tables.documents(s, dir).select($"doc_id", h.as("hv"))
      .withColumn("in5", $"hv" * 100L < space * 5L)
      .withColumn("in10", $"hv" * 100L < space * 10L)
    val viol = d.agg(sum(when($"in5" && !$"in10", 1L).otherwise(0L))
      .as("nesting_violations"))
    d.agg(
        count(lit(1)).as("n_docs"),
        sum(when($"in5", 1L).otherwise(0L)).as("n_sample5"),
        sum(when($"in10", 1L).otherwise(0L)).as("n_sample10"))
      .crossJoin(broadcast(viol))
      .select($"n_docs", $"n_sample5", $"n_sample10",
        ratio($"n_sample5", $"n_docs").as("rate5"),
        ratio($"n_sample10", $"n_docs").as("rate10"),
        $"nesting_violations")
  }

  /** Tokens per "line" for the line-level dedup below: the synthetic
    * fixture text has no newlines, so fixed 8-token windows stand in for
    * lines; the last line keeps its ragged tail. */
  val LineTokens = 8

  /** Line-level exact dedup with document RECONSTRUCTION — the C4 rule:
    * drop every line that also appears in ANY other document, keep the
    * rest of each document in original order. This is the first corpus
    * cleaning stage whose output is a rewritten *document*, not a keep/drop
    * verdict, so the reassembly path matters as much as the dedup:
    *   1. lines are derived map-side per doc (closed-form count, array
    *      slices — the q83 chunker with stride = size);
    *   2. only (line digest, doc_id, line_idx) triples ever shuffle — the
    *      dup-digest census (count distinct docs >= 2), the dup-line
    *      marking join, and the per-doc dup-index sets are all digest/id
    *      traffic;
    *   3. each doc is rebuilt IN PLACE by one keyed join of the small
    *      dup-index set back to documents, then a higher-order
    *      filter/transform re-slices the kept lines from the original
    *      token array — document text crosses the wire exactly once, in
    *      that join, and the within-doc line order is positional (never
    *      a collect_list whose order an aggregation could scramble).
    * Output: per-doc census + md5 of the cleaned text (a 100-TB-safe
    * proxy for "the rewritten corpus matched"). Within-doc repeats are
    * kept (nd counts DISTINCT docs) — the cross-doc rule, exactly. */
  def dedupLinesRebuild(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("n_lines", expr(s"(n_tok + ${LineTokens - 1}) div $LineTokens"))
    val lines = docs
      .select($"doc_id",
        explode(when($"n_lines" > 0, sequence(lit(0L), $"n_lines" - 1L))
          .otherwise(array().cast("array<bigint>"))).as("line_idx"),
        $"toks")
      .withColumn("line_text",
        concat_ws(" ", slice($"toks",
          ($"line_idx" * LineTokens + 1L).cast("int"), lit(LineTokens))))
      .select($"doc_id", $"line_idx",
        conv(substring(md5($"line_text"), 1, 10), 16, 10).cast("long").as("ld"))
    val dupDigests = lines.groupBy($"ld")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2)
      .select($"ld")
    val dupIdx = lines.join(dupDigests, "ld")
      .groupBy($"doc_id").agg(collect_set($"line_idx").as("dup_idx"))
    docs.join(dupIdx, Seq("doc_id"), "left")
      .withColumn("dup_idx",
        coalesce($"dup_idx", array().cast("array<bigint>")))
      .withColumn("kept",
        transform(
          filter(
            when($"n_lines" > 0, sequence(lit(0L), $"n_lines" - 1L))
              .otherwise(array().cast("array<bigint>")),
            i => !array_contains($"dup_idx", i)),
          i => concat_ws(" ", slice($"toks",
            (i * LineTokens + 1L).cast("int"), lit(LineTokens)))))
      .withColumn("clean_text", array_join($"kept", " "))
      .select($"doc_id", $"n_lines",
        size($"dup_idx").cast("long").as("n_dup_lines"),
        length($"clean_text").cast("long").as("clean_len"),
        md5($"clean_text").as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Unigram-LM surprise scoring — perplexity filtering (the CCNet /
    * quality-classifier stage): score each document by how "surprising"
    * its tokens are under the corpus's own unigram distribution, then gate
    * on the mean. The cross-engine trick is a DYADIC log (the q63 move
    * applied to information content): per-token surprise = bits(N) −
    * bits(cnt) where bits(x) = length of x in binary — an exact integer
    * log2 quantization both engines compute identically (`bin`/`length`),
    * so the per-doc sum is order-independent integer math and the mean is
    * one IEEE divide. A production pipeline would use real logs and
    * tolerate FP; a hash-compared oracle cannot, and the quantized score
    * induces the same coarse keep/drop partition. Scale: the vocab count
    * table is vocabulary-bounded → broadcast back to the token stream
    * (map-side join, the q96 contract); only token digests shuffle for the
    * counts and only (doc_id, int) pairs for the final census. */
  def qualityUnigramLm(s: SparkSession, dir: String): DataFrame =
    lmScoredDocs(s, dir).orderBy(col("doc_id"))

  /** Shared tokenized-corpus base for the filter-ensemble queries
    * (q396/q397/q402/q417/q424) — ONE pass computes everything the three
    * vote chains consume per doc: the token array (lm + rules), the
    * space-stripped length (rules), and the bigram digests (learned
    * filter), pinned with a lazy [[Pinned.pin]] so the chains share it.
    * Optimization-round rework (guide §1.2 step 1 / §2.3): each chain
    * previously re-read the parquet and re-tokenized independently — a
    * 3-chain query paid ~6 tokenize passes and 2 md5 token-hash passes
    * over the corpus; the pin trades one corpus-sized local write+read
    * for all of them (tokenize once, hash once, scan once). `th` is
    * bound as its OWN column before [[TextOps.shingleHashes2]] — the
    * multi-reference projection barrier that keeps the digest pipeline
    * from re-evaluating per array element (the q43/q325 O(tokens²)
    * lesson). Results are unchanged: every chain applies the same
    * expressions it previously applied directly to the scan.
    *
    * This is the repo's one CORPUS-SIZED pin (toks + digests per doc).
    * Like every pin it is local unless Spark has a checkpoint directory,
    * and then reliable; [[Pinned.pin]] documents both modes. */
  private def ensembleDocBase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Pinned.pin(
      Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokens($"text"))
        .withColumn("th", TextOps.tokenHashes($"toks"))
        .select($"doc_id", $"lang", $"toks",
          length(regexp_replace($"text", " ", "")).cast("long").as("nosp"),
          TextOps.shingleHashes2($"th").as("bgs")))
  }

  /** q131's unordered per-doc scoring core — shared by the declared
    * query and [[lmKeepVotesFrom]] (the paired-vote tests must replay
    * the SAME gate, never a drift-prone copy). */
  private def lmScoredDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lmScoredDocsFrom(Tables.documents(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks")))
  }

  /** [[lmScoredDocs]] over a pre-tokenized base carrying (doc_id, toks)
    * — the expressions are identical; only the token source differs
    * (direct scan for the standalone gate, the pinned
    * [[ensembleDocBase]] for the multi-chain ensemble queries). */
  private def lmScoredDocsFrom(base: DataFrame): DataFrame = {
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val toks = base.select(col("doc_id"), explode(col("toks")).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val nTot = vocab.agg(sum(col("cnt")).as("n_corpus"))
    toks
      .join(broadcast(vocab), "tok")
      .crossJoin(broadcast(nTot))
      .withColumn("surprise", bits(col("n_corpus")) - bits(col("cnt")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("surprise")).as("surprise_bits"))
      .withColumn("mean_bits", ratio(col("surprise_bits"), col("n_toks")))
      .withColumn("keep", col("mean_bits") <= lit(6.0))
      .select(col("doc_id"), col("n_toks"), col("surprise_bits"),
        col("mean_bits"), col("keep"))
  }

  /** Per-doc keep vote of the q131 unigram gate over ALL documents —
    * a doc the gate never scores votes drop (coalesce false). */
  private def lmKeepVotesFrom(base: DataFrame): DataFrame =
    base.select(col("doc_id"))
      .join(lmScoredDocsFrom(base).select(col("doc_id"), col("keep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("keep"))

  /** BM25 ranked retrieval over the corpus for a fixed 3-term query — the
    * search-scoring operator of a data pipeline (e.g. "find the training
    * docs most relevant to a probe"). Okapi BM25 with k1=1.2, b=0.75;
    * idf is the q131 dyadic bits(N)−bits(df) so every input to the FP
    * score tree is an exact integer (tf, len, df, N) or an exact ratio
    * (avg_len), and each per-term score is ONE identical IEEE expression
    * tree in both engines. The per-doc total is a FIXED-ORDER sum of the
    * three per-term scores (pivoted to columns — never a float groupBy
    * sum, whose order the shuffle would own). Top-10 by (score, doc_id):
    * total order even under score ties. Scale: tf is an inverted-index
    * groupBy on the 3 probe terms only (the isin filter prunes the token
    * stream map-side); df/N/avg_len are broadcast 1-row/3-row tables. */
  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val terms = Seq("join", "scan", "window")
    val docs = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("len", size($"toks").cast("long"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum($"len").as("sum_len"))
    val tf = docs
      .select($"doc_id", $"len", explode($"toks").as("tok"))
      .filter($"tok".isin(terms: _*))
      .groupBy($"doc_id", $"len", $"tok").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfT), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("avg_len", ratio($"sum_len", $"n_docs"))
      .withColumn("idf", (bits($"n_docs") - bits($"df")).cast("double"))
      .withColumn("score_t",
        $"idf" * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"len" / $"avg_len")))
    scored.groupBy($"doc_id")
      .agg(
        coalesce(sum(when($"tok" === "join", $"score_t")), lit(0.0)).as("s_join"),
        coalesce(sum(when($"tok" === "scan", $"score_t")), lit(0.0)).as("s_scan"),
        coalesce(sum(when($"tok" === "window", $"score_t")), lit(0.0)).as("s_window"))
      .withColumn("score", $"s_join" + $"s_scan" + $"s_window")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(10)
      .select($"doc_id", $"s_join", $"s_scan", $"s_window", $"score")
  }

  /** Collocation mining — top-20 bigrams by pointwise mutual information
    * with a min-support floor, the phrase-detection stage (word2vec-style
    * phrase merging, stopword-pair diagnostics). Ranking uses the PMI
    * ORDER STATISTIC without the log: cxy·N / (cx·cy) is a monotone
    * transform of PMI, computed as one IEEE divide of two exact integer
    * products (each < 2^53 here; the products are formed as doubles so
    * the same expression is deterministic even when a 100-TB N pushes
    * them past exactness — both engines multiply the same two doubles).
    * Ties broken by bigram text → total order. Scale: unigram and bigram
    * count tables are vocabulary-bounded; the bigram table joins the
    * broadcast unigram table twice (w1, w2) — no token-stream self-join
    * ever happens. */
  def collocationPmi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).withColumn("toks", TextOps.tokens($"text"))
    val uni = docs.select(explode($"toks").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c1"))
    val nTot = uni.agg(sum($"c1").as("n"))
    val bi = docs.select(explode(TextOps.wordShingles($"toks", 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("cxy"))
      .filter($"cxy" >= 5)
      .withColumn("w1", element_at(split($"bg", " "), 1))
      .withColumn("w2", element_at(split($"bg", " "), 2))
    bi
      .join(broadcast(uni.select($"tok".as("w1"), $"c1".as("cx"))), "w1")
      .join(broadcast(uni.select($"tok".as("w2"), $"c1".as("cy"))), "w2")
      .crossJoin(broadcast(nTot))
      .withColumn("pmi_ratio",
        ($"cxy".cast("double") * $"n".cast("double")) /
          ($"cx".cast("double") * $"cy".cast("double")))
      .orderBy($"pmi_ratio".desc, $"bg".asc)
      .limit(20)
      .select($"bg", $"cxy", $"cx", $"cy", $"pmi_ratio")
  }

  /** Held-out bigram-LM perplexity census with backoff — the n-gram-LM
    * quality scorer (the KenLM-filter shape CCNet/Gopher-class pipelines
    * describe publicly) done PROPERLY: q131 scores every doc against a
    * LM trained on the same corpus (self-perplexity); here the corpus is
    * split by the q260 consistent hash (train ≈ half, membership a pure
    * function of doc_id — stable at any SF), the LM trains on the TRAIN
    * half only, and EVERY doc is scored against it, so held-out docs
    * exercise the full backoff chain: seen bigram → conditional
    * surprise bits(cntp(w₁)) − bits(cnt₂(w₁,w₂)); unseen bigram with a
    * seen unigram → Katz-style backoff to unigram surprise + 4-bit
    * penalty; OOV token → bits(N_train) + 8. All surprises are q131's
    * integer dyadic bits, so per-doc sums are order-independent and
    * hash-portable, and the mean is one IEEE divide. Output doubles as
    * the train/held-out perplexity-gap census (the overfitting
    * diagnostic) plus per-doc backoff/OOV counts (the coverage
    * diagnostic). Scale: unigram and bigram-prefix tables are
    * vocabulary-bounded → broadcast (the q131/q133 contract); the
    * bigram-count table is corpus-shaped, so the doc-bigram stream
    * joins it by KEY (shuffle join — never broadcast, never a
    * token-stream self-join); docs with <2 tokens keep a NULL mean via
    * the defensive doc LEFT join. */
  def bigramLmPerplexity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val space = 16777216L // 16^6
    def isTrain(id: Column): Column =
      conv(substring(md5(concat(lit("lm:"), id.cast("string"))), 1, 6),
        16, 10).cast("long") * 2L < space
    val docs = Tables.documents(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .withColumn("is_train", isTrain($"doc_id"))
    val trainToks = docs.filter($"is_train")
      .select(explode($"toks").as("tok"))
    val uni = trainToks.groupBy($"tok").agg(count(lit(1)).as("c1"))
    val nTrain = uni.agg(sum($"c1").as("n_train"))
    val bi = docs.filter($"is_train")
      .select(explode(TextOps.wordShingles($"toks", 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c2"))
    val prefix = bi
      .withColumn("w1", element_at(split($"bg", " "), 1))
      .groupBy($"w1").agg(sum($"c2").as("cp"))
    val scored = docs
      .select($"doc_id", explode(TextOps.wordShingles($"toks", 2)).as("bg"))
      .withColumn("w2", element_at(split($"bg", " "), 2))
      .join(bi, Seq("bg"), "left")
      .withColumn("w1", element_at(split($"bg", " "), 1))
      .join(broadcast(prefix), Seq("w1"), "left")
      .join(broadcast(uni.select($"tok".as("w2"), $"c1")), Seq("w2"), "left")
      .crossJoin(broadcast(nTrain))
      .withColumn("surprise",
        when($"c2".isNotNull, bits($"cp") - bits($"c2"))
          .when($"c1".isNotNull, bits($"n_train") - bits($"c1") + 4L)
          .otherwise(bits($"n_train") + 8L))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"surprise").as("surprise_bits"),
        sum(when($"c2".isNull && $"c1".isNotNull, 1L).otherwise(0L))
          .as("n_backoff"),
        sum(when($"c2".isNull && $"c1".isNull, 1L).otherwise(0L))
          .as("n_oov"))
    docs.select($"doc_id", $"is_train")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", $"is_train",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"surprise_bits", lit(0L)).as("surprise_bits"),
        coalesce($"n_backoff", lit(0L)).as("n_backoff"),
        coalesce($"n_oov", lit(0L)).as("n_oov"))
      .withColumn("mean_bits",
        when($"n_bigrams" > 0L, ratio($"surprise_bits", $"n_bigrams")))
      .orderBy($"doc_id")
  }

  /** Interpolated Kneser–Ney bigram scorer with the DYADIC discount
    * D = 1/2 (Kneser & Ney 1995; Chen & Goodman 1999 interpolated form,
    * public descriptions) — the SMOOTHED n-gram filter shape of
    * CCNet-class pipelines, completing the LM-scorer family: q131 is
    * unigram, q221 unsmoothed coverage, q297 Katz-style backoff with an
    * ad-hoc penalty; KN instead reserves exactly D·N₁₊(w₁)/c(w₁) of
    * each prefix's mass for the CONTINUATION distribution
    * P_cont(w₂) = N₁₊(·w₂)/T — "how many contexts does w₂ complete",
    * the quantity that makes KN the production smoother. With D = 1/2
    * every probability is an EXACT RATIONAL A/B: clearing denominators,
    * A = T·max(2c₂−1, 0) + N₁₊(w₁·)·N₁₊(·w₂) and B = 2·c(w₁)·T (the
    * per-prefix mass law Σ_w₂ A = B is an integer identity,
    * spec-pinned), and the per-bigram surprise is the q131 dyadic
    * quantization bits(B) − bits(A) — integer, order-independent,
    * hash-portable. Arms: OOV prefix → uniform bits(V+1); zero-mass w₂
    * (unseen bigram, zero continuation count) → bits(B) + 8 (the q297
    * penalty stance). Trained on the q297 'lm:' half, scored on every
    * doc. Envelope: A ≤ B = 2·c(w₁)·T stays in long while
    * prefix-count·bigram-types < 2⁶², i.e. to ~10⁹ types against 10⁹-hot
    * prefixes — past that, retype A/B to decimal and take digit-string
    * lengths (documented, not built). Scale: q297's exact shape — uni/
    * prefix/continuation tables vocab-bounded → broadcast; the bigram
    * table joins by KEY (never broadcast); one doc_id census. */
  def bigramKneserNey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val space = 16777216L // 16^6
    def isTrain(id: Column): Column =
      conv(substring(md5(concat(lit("lm:"), id.cast("string"))), 1, 6),
        16, 10).cast("long") * 2L < space
    val docs = Tables.documents(s, dir)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .withColumn("is_train", isTrain($"doc_id"))
    val vSize = docs.filter($"is_train")
      .select(explode($"toks").as("tok"))
      .agg(countDistinct($"tok").as("v"))
    val bi = Pinned.pin(docs.filter($"is_train")
      .select(explode(TextOps.wordShingles($"toks", 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c2"))) // read by prefix/cont/T AND scoring
    val prefix = bi
      .withColumn("w1", element_at(split($"bg", " "), 1))
      .groupBy($"w1").agg(sum($"c2").as("cp"), count(lit(1)).as("n1p"))
    val cont = bi
      .withColumn("w2", element_at(split($"bg", " "), 2))
      .groupBy($"w2").agg(count(lit(1)).as("nc"))
    val tTypes = bi.agg(count(lit(1)).as("t_types"))
    val scored = docs
      .select($"doc_id", explode(TextOps.wordShingles($"toks", 2)).as("bg"))
      .withColumn("w1", element_at(split($"bg", " "), 1))
      .withColumn("w2", element_at(split($"bg", " "), 2))
      .join(bi, Seq("bg"), "left")
      .join(broadcast(prefix), Seq("w1"), "left")
      .join(broadcast(cont), Seq("w2"), "left")
      .crossJoin(broadcast(tTypes))
      .crossJoin(broadcast(vSize))
      .withColumn("a_num", when($"cp".isNotNull,
        $"t_types" * when($"c2".isNotNull, lit(2L) * $"c2" - 1L)
          .otherwise(0L) + $"n1p" * coalesce($"nc", lit(0L))))
      .withColumn("surprise",
        when($"cp".isNull, bits($"v" + 1L))
          .when($"a_num" > 0L,
            bits(lit(2L) * $"cp" * $"t_types") - bits($"a_num"))
          .otherwise(bits(lit(2L) * $"cp" * $"t_types") + 8L))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"surprise").as("surprise_bits"),
        sum(when($"c2".isNull && $"cp".isNotNull && $"a_num" > 0L, 1L)
          .otherwise(0L)).as("n_continuation"),
        sum(when($"cp".isNotNull && $"a_num" === 0L, 1L).otherwise(0L))
          .as("n_zero_mass"),
        sum(when($"cp".isNull, 1L).otherwise(0L)).as("n_oov_prefix"))
    docs.select($"doc_id", $"is_train")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", $"is_train",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"surprise_bits", lit(0L)).as("surprise_bits"),
        coalesce($"n_continuation", lit(0L)).as("n_continuation"),
        coalesce($"n_zero_mass", lit(0L)).as("n_zero_mass"),
        coalesce($"n_oov_prefix", lit(0L)).as("n_oov_prefix"))
      .withColumn("mean_bits",
        when($"n_bigrams" > 0L, ratio($"surprise_bits", $"n_bigrams")))
      .orderBy($"doc_id")
  }

  /** Per-lang frequency-of-frequencies census (freq r → f_r types),
    * shared by q405 (Chao1) and q406 (Good–Turing): tokens group on
    * (lang, 16-byte digest) — the q147 stance, text never shuffles —
    * then the counts collapse to the vocabulary-bounded (lang, r, f_r)
    * table. */
  private def langFreqOfFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"lang", md5($"tok").as("td"))
      .agg(count(lit(1)).as("r"))
      .groupBy($"lang", $"r")
      .agg(count(lit(1)).as("fr"))
  }

  /** Zipf rank-frequency slope census (Zipf 1949; the standard log-log
    * regression, public description) per language — the STATIC
    * companion to q370's Heaps growth and the q405/q406 tail pair: a
    * natural-language vocabulary has log f ≈ C − s·log rank with
    * s ≈ 1; boilerplate-heavy or templated corpora bend it, so the
    * slope is a corpus-quality fingerprint. Fully LOG-FREE (the q131
    * dyadic stance): both axes are bit-lengths, x = bits(rank),
    * y = bits(freq), and because ranks inside a tied-frequency run are
    * CONSECUTIVE integers, the number of ranks in dyadic band b is the
    * exact interval overlap max(0, min(cb+f_r, 2ᵇ−1) − max(cb+1,
    * 2ᵇ⁻¹) + 1) off the frequency-of-frequencies census — no per-type
    * rows, no window over the vocabulary. The weighted OLS slope over
    * the ≤40·|freq-census| band points is exact integer moments +
    * one divide (decimal(38,0), VARCHAR-routed). Slopes ≈ −1·(bits per
    * bits) read as Zipf exponent ≈ 1. Degenerate (< 2 distinct bands)
    * slices keep NULLs. Scale: the shared q405 fof census → a bounded
    * band explode → 5-cell moments per lang. */
  def zipfSlopeCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val fof = langFreqOfFreq(s, dir)
    val cb = coalesce(sum($"fr").over(Window.partitionBy($"lang")
      .orderBy($"r".desc).rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val pts = fof.withColumn("cb", cb)
      .select($"lang", $"r", $"fr", $"cb",
        explode(sequence(lit(1), lit(40))).as("b"))
      .withColumn("lo", expr("shiftleft(cast(1 as bigint), b - 1)"))
      .withColumn("hi", expr("shiftleft(cast(1 as bigint), b) - 1"))
      .withColumn("cnt", greatest(lit(0L),
        least($"cb" + $"fr", $"hi") - greatest($"cb" + 1L, $"lo") + 1L))
      .filter($"cnt" > 0L)
      .select($"lang", $"b".cast("long").as("x"), bits($"r").as("y"), $"cnt")
    val m = pts.groupBy($"lang").agg(
      sum($"cnt").as("w"), count(lit(1)).as("n_points"),
      sum($"cnt" * $"x").as("sx"), sum($"cnt" * $"y").as("sy"),
      sum($"cnt" * $"x" * $"x").as("sxx"),
      sum($"cnt" * $"x" * $"y").as("sxy"))
    val dd = $"w".cast(d38) * $"sxx" - $"sx".cast(d38) * $"sx"
    val slope = ($"w".cast(d38) * $"sxy" - $"sx".cast(d38) * $"sy")
      .cast("double") / dd.cast("double")
    m.select($"lang", $"w".as("n_types"), $"n_points",
      when(dd > 0, slope).as("zipf_slope_bits"),
      when(dd > 0,
        ($"sy".cast("double") - slope * $"sx".cast("double")) /
          $"w".cast("double")).as("intercept_bits"))
      .orderBy($"lang")
  }

  /** Chao1 species-richness estimate (Chao 1984, public definition)
    * per language — the "how much vocabulary have we NOT seen yet"
    * diagnostic that prices a crawl extension for tokenizer sizing,
    * completing the vocabulary family (q370 measures observed growth;
    * q388 effective diversity; Chao1 estimates the asymptote): from the
    * frequency-of-frequencies census, Chao1 = D + f₁²/(2f₂), or the
    * bias-corrected D + f₁(f₁−1)/2 when no doubletons exist — exact
    * integer numerators (f₁² in decimal(38,0), VARCHAR-routed — past
    * 2⁵³ near 10⁸ singleton types) over one shared divide, added to the
    * exact D. Also rides f₁ = 0 ⇒ Chao1 = D exactly (a closed
    * vocabulary estimates itself, spec-pinned). Scale: one token pass →
    * (lang, digest) agg → the ≤|vocab| fof census → 4-cell moments per
    * lang. */
  def chao1Richness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val g = langFreqOfFreq(s, dir).groupBy($"lang").agg(
      sum($"fr").as("n_types"),
      sum($"r" * $"fr").as("n_tokens"),
      sum(when($"r" === 1L, $"fr").otherwise(0L)).as("f1"),
      sum(when($"r" === 2L, $"fr").otherwise(0L)).as("f2"))
    g.select($"lang", $"n_tokens", $"n_types", $"f1", $"f2",
      when($"f2" > 0L,
        $"n_types".cast("double") +
          ($"f1".cast(d38) * $"f1").cast("double") /
            (lit(2L) * $"f2").cast("double"))
        .otherwise($"n_types".cast("double") +
          ($"f1".cast(d38) * ($"f1" - 1L)).cast("double") / lit(2.0))
        .as("chao1"))
      .orderBy($"lang")
  }

  /** q425 panel width: the top-this-many terms by total occurrence
    * count enter the burstiness census — a fixed bound so the output
    * and every downstream moment are SF-invariant. */
  val BurstTopK = 20

  /** Term burstiness census — the index of dispersion (variance-to-mean
    * ratio; Church & Gale 1995's burstiness observation, public) of
    * per-document counts for the [[BurstTopK]] highest-volume terms:
    * content words CLUMP (one doc mentioning a topic mentions it many
    * times — VMR ≫ 1) while function words arrive near-Poisson
    * (VMR ≈ 1), so the census separates topical from structural
    * vocabulary, the signal a stopword-list builder or tf-idf sanity
    * check reads. Zero-count docs are in the moments by construction
    * (zeros add nothing to Σc or Σc², only N): with S = Σc, VMR =
    * (N·Σc² − S²)/((N−1)·S) — exact integer numerator and denominator
    * in decimal(38,0) (VARCHAR-routed), ONE divide; `bursty` is the
    * cross-multiplied exact comparison var_num > 2·(N−1)·S (the VMR > 2
    * screening literal). The panel selection is a total order
    * (count desc, term asc — no hash ties). Laws (spec): a
    * once-per-doc-everywhere term pins VMR = 0 exactly; a term
    * concentrated in one doc pins the closed form; N = 1 leaves VMR
    * NULL. Scale: one (term, doc) tf pass (the q149/q52 shape) → one
    * term-keyed moment agg → top-K selection → K rows. */
  def termBurstiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"tok", $"doc_id").agg(count(lit(1)).as("c"))
    val top = tf.groupBy($"tok")
      .agg(sum($"c").as("tot"),
        sum($"c".cast(d38) * $"c").as("s2"),
        count(lit(1)).as("df"))
      .orderBy($"tot".desc, $"tok".asc).limit(BurstTopK)
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("nn"))
    val varNum = $"nn".cast(d38) * $"s2" - $"tot".cast(d38) * $"tot"
    val vmrDen = ($"nn" - 1L).cast(d38) * $"tot"
    top.crossJoin(broadcast(nd))
      .select($"tok".as("term"), $"df".as("n_docs_with"),
        $"tot".as("n_occurrences"),
        varNum.cast("string").as("var_num"),
        when($"nn" > 1L && $"tot" > 0,
          varNum.cast("double") / vmrDen.cast("double")).as("vmr"),
        coalesce(when($"nn" > 1L && $"tot" > 0,
          varNum > lit(2L).cast(d38) * vmrDen), lit(false)).as("bursty"))
      .orderBy($"n_occurrences".desc, $"term".asc)
  }

  /** Kendall's W coefficient of concordance (Kendall & Babington Smith
    * 1939, public definition) across the three integer length proxies
    * — token count, character count, distinct-token count — the
    * "which cheap quality proxy?" diagnostic: a curation gate picks ONE
    * of these; W says whether the choice matters (W → 1: any of them
    * induces the same corpus ranking; low W: the proxies genuinely
    * disagree and the gate choice is a real decision). All three
    * scores are exact integers, ranks are DOUBLED midranks off each
    * score's value census (the q365 machinery — 3 census joins back,
    * never a corpus-wide window), the per-doc rank sum R₂ = Σ is an
    * exact long, and with ΣR₂ = 3N(N+1) identically the spread
    * collapses to S₂ = ΣR₂² − 9N(N+1)² — one decimal(38,0) moment.
    * Tie-corrected W = S₂/(3(N³−N) − ΣT) with T = Σ(t³−t) per rater
    * (exact, VARCHAR-routed), ONE divide; the Friedman statistic
    * 3(N−1)·W rides (its χ² df is N−1 — corpus-sized, so no literal
    * line; the W magnitude is the deliverable). Laws (spec): three
    * agreeing rankings ⇒ W = 1 exactly; the 2-doc one-dissenter
    * corpus ⇒ W = 1/9 exactly; an all-tied corpus (denominator 0)
    * leaves W NULL. Envelope: ΣR₂² ≤ 36N³ — exact past 10¹¹ docs.
    * Scale: one corpus pass → 3 value censuses + keyed joins back →
    * one moment agg → one row. */
  def kendallWProxies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    // read by 3 rank chains + the join
    val base = Pinned.pin(Tables.documents(s, dir)
      .select($"doc_id",
        size(TextOps.tokens($"text")).cast("long").as("sa"),
        length($"text").cast("long").as("sb"),
        size(array_distinct(TextOps.tokens($"text"))).cast("long").as("sc")))
    def ranked(scoreCol: String, out: String): DataFrame = {
      val census = base.groupBy(col(scoreCol).as("v"))
        .agg(count(lit(1)).as("w"))
      val cums = census.withColumn("cum_before",
        sum($"w").over(Window.orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - $"w")
      base.select($"doc_id", col(scoreCol).as("v"))
        .join(cums, Seq("v"))
        .select($"doc_id", (lit(2L) * $"cum_before" + $"w" + 1L).as(out))
    }
    val tieTerm: Column =
      coalesce(sum($"w".cast(d38) * $"w" * $"w" - $"w"),
        lit(BigDecimal(0)).cast(d38))
    val r = ranked("sa", "ra")
      .join(ranked("sb", "rb"), Seq("doc_id"))
      .join(ranked("sc", "rc"), Seq("doc_id"))
      .select(($"ra" + $"rb" + $"rc").as("r2"))
    val ties = Seq("sa", "sb", "sc").map { c =>
      base.groupBy(col(c).as("v")).agg(count(lit(1)).as("w")).agg(tieTerm)
    }.reduce(_ crossJoin _).toDF("ta", "tb", "tc")
    val g = r.agg(count(lit(1)).as("n"),
      coalesce(sum($"r2"), lit(0L)).as("sum_r2"),
      coalesce(sum($"r2".cast(d38) * $"r2"), lit(BigDecimal(0)).cast(d38))
        .as("sr22"))
    val joined = g.crossJoin(broadcast(ties))
      .withColumn("s2_num",
        $"sr22" - lit(9L).cast(d38) * $"n" * ($"n" + 1L) * ($"n" + 1L))
      .withColumn("den",
        lit(3L).cast(d38) * ($"n".cast(d38) * $"n" * $"n" - $"n") -
          ($"ta" + $"tb" + $"tc"))
    val wStat = $"s2_num".cast("double") / $"den".cast("double")
    joined.select($"n".as("n_docs"), $"sum_r2",
      $"s2_num".cast("string").as("s2_num"),
      ($"ta" + $"tb" + $"tc").cast("string").as("tie_term"),
      when($"den" > 0, wStat).as("kendall_w"),
      when($"den" > 0, lit(3.0) * ($"n" - 1L).cast("double") * wStat)
        .as("chi2_friedman"))
  }

  /** Cronbach's alpha (Cronbach 1951, public definition) over the three
    * integer length proxies q430 ranks — the internal-consistency
    * coefficient that answers the question BEFORE the "which proxy?"
    * decision: do the proxies even measure one underlying "document
    * size" construct (α → 1), or is a composite score averaging them
    * incoherent? Raw-score α is an EXACT RATIONAL here: every item
    * variance and covariance numerator (n·Σx² − (Σx)², n·Σxy − Σx·Σy)
    * shares the same n(n−1) denominator, so α = (k/(k−1))·(V_T −
    * ΣVᵢ)/V_T collapses to 3·(c_ab + c_ac + c_bc)/V_T — exact
    * decimal(38,0) integers, ONE divide (VARCHAR-routed in the
    * oracle per the 2⁵³ cast rule). The three pairwise Pearson r and
    * standardized α = k·r̄/(1 + (k−1)·r̄) ride (q414's two-sqrt tree,
    * NULL-guarded on zero variance; r̄ is a FIXED-ORDER three-term
    * sum — no data-dependent float ordering anywhere). Laws (spec):
    * single-char-distinct-word docs make the items perfect linear
    * functions with sd ratio 1:2:1 ⇒ raw α = 15/16 exactly (the
    * tau-equivalence violation made visible) while standardized α = 1
    * exactly; a constant corpus ⇒ every statistic NULL. Envelope:
    * n·Σ(sa·sb) ≤ n²·10⁶ — exact past 10¹⁵ docs. Scale: one corpus
    * pass → ONE 10-moment agg → one row. */
  def cronbachAlphaProxies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val g = Tables.documents(s, dir)
      .select(
        size(TextOps.tokens($"text")).cast("long").as("sa"),
        length($"text").cast("long").as("sb"),
        size(array_distinct(TextOps.tokens($"text"))).cast("long").as("sc"))
      .agg(count(lit(1)).as("n"),
        sum($"sa").as("xa"), sum($"sb").as("xb"), sum($"sc").as("xc"),
        sum($"sa".cast(d38) * $"sa").as("aa"),
        sum($"sb".cast(d38) * $"sb").as("bb"),
        sum($"sc".cast(d38) * $"sc").as("cc"),
        sum($"sa".cast(d38) * $"sb").as("ab"),
        sum($"sa".cast(d38) * $"sc").as("ac"),
        sum($"sb".cast(d38) * $"sc").as("bc"))
    val n38 = $"n".cast(d38)
    def vnum(sq: Column, sm: Column): Column =
      n38 * sq - sm.cast(d38) * sm.cast(d38)
    def cnum(sxy: Column, sx: Column, sy: Column): Column =
      n38 * sxy - sx.cast(d38) * sy.cast(d38)
    val va = vnum($"aa", $"xa"); val vb = vnum($"bb", $"xb")
    val vc = vnum($"cc", $"xc")
    val cab = cnum($"ab", $"xa", $"xb"); val cac = cnum($"ac", $"xa", $"xc")
    val cbc = cnum($"bc", $"xb", $"xc")
    val vt = va + vb + vc + lit(2L).cast(d38) * (cab + cac + cbc)
    def r(c: Column, v1: Column, v2: Column): Column =
      when(v1 > 0 && v2 > 0,
        c.cast("double") / (sqrt(v1.cast("double")) * sqrt(v2.cast("double"))))
    val derived = g.select($"n",
      vt.as("vtn"), (va + vb + vc).as("vin"),
      (lit(3L).cast(d38) * (cab + cac + cbc)).as("crn"),
      r(cab, va, vb).as("r_ab"), r(cac, va, vc).as("r_ac"),
      r(cbc, vb, vc).as("r_bc"))
    val rbar = ($"r_ab" + $"r_ac" + $"r_bc") / lit(3.0)
    derived.select($"n".as("n_docs"),
      $"vtn".cast("string").as("vt_num"),
      $"vin".cast("string").as("items_var_num"),
      when($"vtn" > 0, $"crn".cast("double") / $"vtn".cast("double"))
        .as("cronbach_alpha"),
      $"r_ab", $"r_ac", $"r_bc",
      when($"r_ab".isNotNull && $"r_ac".isNotNull && $"r_bc".isNotNull &&
        lit(1.0) + lit(2.0) * rbar =!= 0.0,
        lit(3.0) * rbar / (lit(1.0) + lit(2.0) * rbar)).as("alpha_std"))
  }

  /** Yule's characteristic K (Yule 1944, public definition) per
    * language — the classic lexical-diversity constant the richness
    * pair (q405 Chao1, q406 Good–Turing) lacks: K = 10⁴·(M₂ − M₁)/M₁²
    * with M₁ = Σr·f_r tokens and M₂ = Σr²·f_r off the shared
    * frequency-of-frequencies census, is (up to the 10⁴ convention)
    * the repeat rate of two tokens drawn WITH replacement — unlike
    * type counts or TTR it is corpus-SIZE-INVARIANT in expectation,
    * which is what makes it a fingerprint (template spam inflates it
    * ~10×; diverse prose sits ≈ 100–200). The unbiased Simpson repeat
    * rate D = (M₂ − M₁)/(M₁² − M₁) (draws WITHOUT replacement — the
    * q388 form pointed at the vocabulary) rides. Both are exact
    * decimal(38,0) integer trees with ONE divide each
    * (VARCHAR-routed). Laws (spec): an all-distinct corpus pins
    * K = 0 = D exactly; a one-type corpus pins D = 1 exactly and
    * K = 10⁴·(n−1)/n; a single-token slice leaves D NULL. Envelope:
    * M₂ ≤ M₁² ≤ 10²⁸ at 10¹⁴ tokens/lang. Scale: the shared fof
    * census → one 3-moment agg per lang. */
  def yuleKCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val g = langFreqOfFreq(s, dir).groupBy($"lang")
      .agg(sum($"r" * $"fr").as("m1"), sum($"fr").as("n_types"),
        sum($"r".cast(d38) * $"r" * $"fr").as("m2"))
    val m1 = $"m1".cast(d38)
    g.select($"lang", $"m1".as("n_tokens"), $"n_types",
        $"m2".cast("string").as("m2"),
        when($"m1" > 0L, (lit(10000L).cast(d38) * ($"m2" - m1))
          .cast("double") / (m1 * m1).cast("double")).as("yule_k"),
        when($"m1" > 1L, ($"m2" - m1).cast("double") /
          (m1 * m1 - m1).cast("double")).as("simpson_repeat"))
      .orderBy($"lang")
  }

  /** Cochran–Armitage trend test (Cochran 1954 / Armitage 1955, public
    * definition) of the q131 unigram gate's keep rate across dyadic
    * document-length bands — the ORDERED-dose companion to q417's
    * per-filter intervals and q402's any-difference test: "does the
    * gate systematically prefer longer documents?" is a TREND
    * question, and treating the bands as unordered (χ² on the k×2
    * table) throws the ordering away. Scores are the band indices
    * s = bits(n_toks) (the log-free dyadic dose; consecutive integers,
    * the standard equally-spaced choice). With per-band (nᵢ, kᵢ) and
    * N, A, T = Σsᵢkᵢ, S₁ = Σsᵢnᵢ, S₂ = Σsᵢ²nᵢ: Z = (N·T − A·S₁) /
    * √(A·(N−A)·((N·S₂ − S₁²)/N)) — every moment an exact integer
    * (band census is ≤40 rows), the numerator one exact decimal(38,0)
    * value cast once, the denominator three exact factors in a FIXED
    * IEEE tree (the inner divide keeps each factor ≤ 1600·N² — exact
    * past 10¹⁷ docs where squaring the whole variance would overflow
    * at 10⁸), flagged two-sided at the [[MwCritAlpha05]] literal.
    * Laws (spec): a perfectly monotone 2-band plant pins Z = 2
    * exactly; a band-constant keep rate pins Z = 0; a single band
    * leaves Z NULL. Scale: the q131 chain → a ≤40-row band census →
    * one 5-moment fold → one row. */
  def cochranArmitageTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val bands = lmScoredDocs(s, dir)
      .select(length(bin($"n_toks")).cast("long").as("s1"),
        when($"keep", 1L).otherwise(0L).as("k"))
      .groupBy($"s1").agg(count(lit(1)).as("n"), sum($"k").as("kk"))
    val g = bands.agg(count(lit(1)).as("n_bands"),
      sum($"n").as("nn"), sum($"kk").as("a"),
      sum($"s1" * $"kk").as("t"), sum($"s1" * $"n").as("sc1"),
      sum($"s1" * $"s1" * $"n").as("sc2"))
    val num = $"nn".cast(d38) * $"t" - $"a".cast(d38) * $"sc1"
    val cvar = $"nn".cast(d38) * $"sc2" - $"sc1".cast(d38) * $"sc1"
    val zCol = num.cast("double") /
      sqrt(($"a".cast(d38) * ($"nn" - $"a")).cast("double") *
        (cvar.cast("double") / $"nn".cast("double")))
    g.select($"n_bands", $"nn".as("n_docs"), $"a".as("n_keep"),
      $"t".as("t_stat"), num.cast("string").as("trend_num"),
      cvar.cast("string").as("cvar_num"),
      when($"a" > 0L && $"a" < $"nn" && cvar > 0, zCol).as("z_trend"),
      coalesce(when($"a" > 0L && $"a" < $"nn" && cvar > 0,
        abs(zCol) > lit(MwCritAlpha05)), lit(false)).as("trending"),
      when($"a" > 0L && $"a" < $"nn" && cvar > 0,
        when(num > 0, lit("longer_kept_more"))
          .when(num < 0, lit("shorter_kept_more"))
          .otherwise(lit("none"))).otherwise(lit("none")).as("direction"))
  }

  /** Chars-per-token rule-of-thumb factor shared by q433/q434 — the
    * public "≈4 characters per English token" estimation rule every
    * token-budget planner uses when only byte/char counts are cheap.
    * The agreement pair is (n_chars, [[CharsPerTok]]·ntok): the stored
    * truth vs the estimator, both in character units. */
  val CharsPerTok = 4

  /** Lin's concordance correlation coefficient (Lin 1989, public
    * definition) between the stored character count and the
    * [[CharsPerTok]]·token-count estimate — the AGREEMENT statistic
    * for "can I budget tokens from char counts alone?": Pearson r only
    * measures linear association (a 2× systematic bias still scores
    * r = 1); CCC penalizes scale and location shifts, CCC = r·C_b with
    * C_b ∈ (0,1] the bias-correction factor. Population-moment form
    * over common denominator n²: CCC = 2(nΣxy − ΣxΣy) / (nΣx² − (Σx)²
    * + nΣy² − (Σy)² + (Σx − Σy)²) — exact decimal(38,0) integers, ONE
    * divide (VARCHAR-routed); r is q414's two-sqrt tree and C_b one
    * further divide of the two already-rounded doubles (fixed IEEE
    * shape both engines). Laws (spec): y = x exactly ⇒ CCC = 1 bitwise;
    * a constant additive bias c pins CCC = 2v/(2v + nc²·n) < 1 via the
    * exact integer tree while r stays 1; zero variance on either side
    * leaves r and C_b NULL (CCC survives on location difference alone).
    * Envelope: nΣxy ≤ n²·(4·10³)² — exact past 10¹⁵ docs. Scale: one
    * corpus pass → ONE 5-moment agg → one row. */
  def linCccCharsBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val g = Tables.documents(s, dir)
      .select($"n_chars".cast("long").as("x"),
        (size(TextOps.tokens($"text")).cast("long") * CharsPerTok).as("y"))
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x".cast(d38) * $"x").as("sxx"),
        sum($"y".cast(d38) * $"y").as("syy"),
        sum($"x".cast(d38) * $"y").as("sxy"))
    val n38 = $"n".cast(d38)
    val vx = n38 * $"sxx" - $"sx".cast(d38) * $"sx".cast(d38)
    val vy = n38 * $"syy" - $"sy".cast(d38) * $"sy".cast(d38)
    val cxy = n38 * $"sxy" - $"sx".cast(d38) * $"sy".cast(d38)
    val shift = ($"sx".cast(d38) - $"sy".cast(d38)) *
      ($"sx".cast(d38) - $"sy".cast(d38))
    val den = vx + vy + shift
    val rCol = when(vx > 0 && vy > 0,
      cxy.cast("double") / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
    g.select($"n".as("n_docs"),
        $"sx".as("sum_chars"), $"sy".as("sum_est"),
        vx.cast("string").as("vx_num"), vy.cast("string").as("vy_num"),
        cxy.cast("string").as("cxy_num"),
        when(den > 0, (lit(2L).cast(d38) * cxy).cast("double") /
          den.cast("double")).as("lin_ccc"),
        rCol.as("pearson_r"))
      .withColumn("c_b",
        when($"pearson_r".isNotNull && $"pearson_r" =!= 0.0,
          $"lin_ccc" / $"pearson_r"))
  }

  /** Bland–Altman limits of agreement (Bland & Altman 1986, public
    * method) for the q433 pair — the companion plot statistics: mean
    * difference (the systematic bias of the 4-chars/token rule, ONE
    * exact divide), the 1.96·sd limits, and the count of documents
    * OUTSIDE the limits (the docs where the estimator is not just
    * biased but unpredictably wrong — the actionable list). The
    * outside test is |n·dᵢ − Σd| > 1.96·√(n·(nΣd² − (Σd)²)/(n−1)) —
    * LHS an exact long cast once to double, RHS one fixed IEEE tree
    * broadcast to every row, so the flag is bit-deterministic at any
    * parallelism; 1.96 is the public normal-quantile literal (the
    * q348 stance). Laws (spec): y = x + c exactly ⇒ bias = c, sd = 0,
    * zero outside; one planted blowup doc against a constant-diff
    * background is the ONLY doc outside. Scale: one corpus pass →
    * one 3-moment agg + one broadcast re-scan for the outside count →
    * one row. */
  def blandAltmanCharsBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    // read by the moment agg + the scan
    val diffs = Pinned.pin(Tables.documents(s, dir)
      .select(($"n_chars".cast("long") -
        size(TextOps.tokens($"text")).cast("long") * CharsPerTok).as("d")))
    val g = diffs.agg(count(lit(1)).as("n"),
      sum($"d").as("sd1"), sum($"d".cast(d38) * $"d").as("sd2"))
    val varNum = $"n".cast(d38) * $"sd2" -
      $"sd1".cast(d38) * $"sd1".cast(d38)
    val stats = g.select($"n", $"sd1", varNum.as("vnum"),
      when($"n" > 0, ratio($"sd1", $"n")).as("mean_diff"),
      when($"n" > 1, sqrt(varNum.cast("double") /
        ($"n".cast(d38) * ($"n" - 1L)).cast("double"))).as("sd_diff"))
    val halfWidth = lit(1.96) * $"sd_diff" * $"n".cast("double")
    val outside = diffs.crossJoin(broadcast(stats))
      .agg(sum(when($"sd_diff".isNotNull &&
        abs(($"n" * $"d" - $"sd1").cast("double")) > halfWidth, 1L)
        .otherwise(0L)).as("n_outside"))
    stats.crossJoin(broadcast(outside))
      .select($"n".as("n_docs"), $"sd1".as("sum_diff"),
        $"vnum".cast("string").as("var_num"), $"mean_diff", $"sd_diff",
        when($"sd_diff".isNotNull, $"mean_diff" - lit(1.96) * $"sd_diff")
          .as("lo_limit"),
        when($"sd_diff".isNotNull, $"mean_diff" + lit(1.96) * $"sd_diff")
          .as("hi_limit"),
        $"n_outside",
        when($"n" > 0, ratio($"n_outside", $"n")).as("frac_outside"))
  }

  /** Good–Turing unseen-mass census (Good 1953, public definition) per
    * language — the probability a FRESH token is a type never seen in
    * the corpus, P₀ = f₁/N (the quantity q399's Kneser–Ney reserves
    * structurally; here it is measured directly), plus the smoothed
    * count ladder r* = (r+1)·f_{r+1}/f_r for r = 1..4 — the adjusted
    * counts a GT-smoothed LM would use, each ONE exact divide of census
    * integers (NULL where f_r = 0 — no types to adjust). Output: one
    * row per (lang, r) with the per-lang totals and unseen mass riding.
    * Scale: the shared fof census → a ≤5-row explode per lang. */
  def goodTuringMass(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fof = Pinned.pin(langFreqOfFreq(s, dir)) // read by totals AND the ladder
    val tot = fof.groupBy($"lang").agg(
      sum($"r" * $"fr").as("n_tokens"),
      sum($"fr").as("n_types"),
      sum(when($"r" === 1L, $"fr").otherwise(0L)).as("f1"))
    val ladder = tot.select($"lang", explode(sequence(lit(1L), lit(4L)))
      .as("r"))
      .join(fof.select($"lang", $"r", $"fr"), Seq("lang", "r"), "left")
      .join(fof.select($"lang", ($"r" - 1L).as("r"), $"fr".as("fr_next")),
        Seq("lang", "r"), "left")
      .select($"lang", $"r", coalesce($"fr", lit(0L)).as("f_r"),
        coalesce($"fr_next", lit(0L)).as("f_r_next"))
    ladder.join(tot, Seq("lang"))
      .select($"lang", $"r", $"f_r", $"f_r_next",
        $"n_tokens", $"n_types", $"f1",
        when($"n_tokens" > 0L, ratio($"f1", $"n_tokens")).as("p0_unseen"),
        when($"f_r" > 0L,
          (($"r" + 1L) * $"f_r_next").cast("double") / $"f_r".cast("double"))
          .as("r_star"))
      .orderBy($"lang", $"r")
  }

  /** Gopher-style rule-set quality gate — the named-rule form of document
    * filtering (q49 scores, q81 measures repetition; production curation
    * pipelines ship a RULE LIST with per-rule pass booleans and a reasons
    * trail, which is what makes filter decisions auditable and tunable
    * per-rule). Four rules calibrated to the fixture corpus: token-count
    * bounds, mean-word-length bounds, stopword presence (≥2 of the
    * stoplist present), and top-token frequency ≤10 % (the one rule that
    * needs an explode→count pass; the comparison is the INTEGER form
    * top_cnt·10 ≤ ntok, so no FP ever decides a rule). The per-token
    * aggregate groups on md5 digests, so the shuffle carries (doc_id,
    * 16-byte digest) — document text never crosses the wire. `reasons`
    * concatenates failed rule names in fixed order (concat_ws skips NULLs
    * identically in both engines). */
  def qualityGopherRules(s: SparkSession, dir: String): DataFrame =
    gopherScoredDocs(s, dir).orderBy(col("doc_id"))

  /** q147's unordered per-doc rule core — shared by the declared query
    * and [[rulesKeepVotesFrom]] (one rule list, never a copy). */
  private def gopherScoredDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gopherScoredDocsFrom(Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .select($"doc_id", $"toks",
        length(regexp_replace($"text", " ", "")).cast("long").as("nosp")))
  }

  /** [[gopherScoredDocs]] over a pre-tokenized base carrying (doc_id,
    * toks, nosp) — identical rule expressions; the ensemble queries pass
    * the pinned [[ensembleDocBase]] so the rule stats and the top-token
    * pass share one tokenization. */
  private def gopherScoredDocsFrom(docBase: DataFrame): DataFrame = {
    val stop = Seq("the", "a")
    val base = docBase
      .withColumn("ntok", size(col("toks")).cast("long"))
      .withColumn("n_stop_present",
        size(filter(array(stop.map(lit): _*),
          t => array_contains(col("toks"), t))).cast("long"))
      .select(col("doc_id"), col("ntok"), col("nosp"),
        col("n_stop_present"))
    val top = docBase
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), md5(col("tok")).as("td"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_cnt"))
    base.join(top, "doc_id")
      .withColumn("mean_tok_len", ratio(col("nosp"), col("ntok")))
      .withColumn("r_len", col("ntok") >= 25L && col("ntok") <= 90L)
      .withColumn("r_wordlen",
        col("mean_tok_len") >= lit(4.0) && col("mean_tok_len") < lit(7.0))
      .withColumn("r_stop", col("n_stop_present") >= 2L)
      .withColumn("r_rep", col("top_cnt") * 10L <= col("ntok"))
      .select(col("doc_id"), col("ntok"), col("top_cnt"),
        col("mean_tok_len"),
        col("r_len"), col("r_wordlen"), col("r_stop"), col("r_rep"),
        (col("r_len") && col("r_wordlen") && col("r_stop") &&
          col("r_rep")).as("keep"),
        concat_ws(",",
          when(!col("r_len"), lit("len")),
          when(!col("r_wordlen"), lit("wordlen")),
          when(!col("r_stop"), lit("stop")),
          when(!col("r_rep"), lit("rep"))).as("reasons"))
  }

  /** Per-doc keep vote of the q147 rule set over ALL documents. */
  private def rulesKeepVotesFrom(base: DataFrame): DataFrame =
    base.select(col("doc_id"))
      .join(gopherScoredDocsFrom(base).select(col("doc_id"), col("keep")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("keep"), lit(false)).as("keep"))

  /** Per-doc keep vote of the q325 learned filter over ALL documents
    * (scan-only — [[qfPerDocScoresFrom]] already covers every doc). */
  private def qfKeepVotesFrom(base: DataFrame): DataFrame =
    qfPerDocScoresFrom(base).select(col("doc_id"),
      (col("score_bits") * col("tnb") >
        col("ts") * col("n_bigrams")).as("keep"))

  /** McNemar's paired-classifier test (McNemar 1947, public definition)
    * between the q131 unigram gate (A) and the q325 learned filter (B)
    * on the SAME documents — the A/B decision a filter swap requires,
    * which nothing in the eval tier answers (q364/q382 score ONE
    * classifier; q367 compares corpus halves): paired designs ignore
    * the concordant docs and test only the DISCORDANT counts b = A-keep/
    * B-drop, c = A-drop/B-keep, χ² = (b−c)²/(b+c) at df = 1, with the
    * Edwards continuity-corrected (max(|b−c|−1,0))²/(b+c) arm riding.
    * Everything before the two shared divides is exact integers (the
    * 2×2 census; the squared numerators in decimal(38,0), VARCHAR-routed
    * in the oracle — (b−c)² passes 2⁵³ near 10⁸ discordant docs); the
    * rejection line is the literal χ²₀.₉₅(1) ([[Chi2Crit95]] head —
    * the q383 literal stance). b + c = 0 (the filters never disagree)
    * leaves both χ² NULL and the flag false — McNemar is undefined
    * without discordance, spec-pinned. Scale: two corpus scans (one per
    * filter chain) meeting in a doc_id-keyed join → ONE 5-cell agg;
    * votes, not text, cross the wire. */
  def mcnemarFilterAb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = ensembleDocBase(s, dir)
    val votes = base.select($"doc_id")
      .join(lmKeepVotesFrom(base).withColumnRenamed("keep", "ka"),
        Seq("doc_id"), "left")
      .join(qfKeepVotesFrom(base).withColumnRenamed("keep", "kb"),
        Seq("doc_id"), "left")
      .select(coalesce($"ka", lit(false)).as("ka"),
        coalesce($"kb", lit(false)).as("kb"))
    val g = votes.agg(
      count(lit(1)).as("n_docs"),
      sum(when($"ka" && $"kb", 1L).otherwise(0L)).as("n_both_keep"),
      sum(when(!$"ka" && !$"kb", 1L).otherwise(0L)).as("n_both_drop"),
      sum(when($"ka" && !$"kb", 1L).otherwise(0L)).as("n_a_only"),
      sum(when(!$"ka" && $"kb", 1L).otherwise(0L)).as("n_b_only"))
    val disc = $"n_a_only" + $"n_b_only"
    val chi2 = (($"n_a_only" - $"n_b_only").cast(d38) *
      ($"n_a_only" - $"n_b_only")).cast("double") / disc.cast("double")
    val ccm = greatest(abs($"n_a_only" - $"n_b_only") - 1L, lit(0L))
    val chi2cc = (ccm.cast(d38) * ccm).cast("double") / disc.cast("double")
    g.select($"n_docs", $"n_both_keep", $"n_both_drop",
      $"n_a_only", $"n_b_only",
      ratio($"n_both_keep" + $"n_a_only", $"n_docs").as("keep_rate_a"),
      ratio($"n_both_keep" + $"n_b_only", $"n_docs").as("keep_rate_b"),
      when(disc > 0L, chi2).as("chi2_mcnemar"),
      when(disc > 0L, chi2cc).as("chi2_cc"),
      coalesce(when(disc > 0L, chi2 > lit(Chi2Crit95.head)), lit(false))
        .as("filters_differ"))
  }

  /** Cochran's Q test (Cochran 1950, public definition) over the
    * filter ensemble — the k-rater generalization of q396's McNemar
    * (k = 2 discordance) and the INFERENCE companion to q397's Fleiss
    * EFFECT SIZE: do the three shipped filters (q131/q147/q325) have
    * the same marginal keep rate on the same documents, or is at least
    * one systematically stricter? Q = (k−1)·(k·ΣG_j² − T²) /
    * (k·ΣL_i − ΣL_i²) with G_j the per-rater keep totals and L_i the
    * per-doc vote count — every moment an exact integer off ONE 6-cell
    * agg over the joined votes (squares in decimal(38,0),
    * VARCHAR-routed in the oracle), one shared divide, χ²(k−1 = 2)
    * rejection at the [[Chi2Crit95]] literal. A fully unanimous corpus
    * (every L_i ∈ {0, k}) zeroes the denominator — Q undefined, NULL
    * and unflagged (spec-pinned on the q397 plant). Scale: the three
    * vote chains meet in one doc_id join → one row. */
  def cochranQFilters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = ensembleDocBase(s, dir)
    val votes = base.select($"doc_id")
      .join(lmKeepVotesFrom(base).withColumnRenamed("keep", "ka"),
        Seq("doc_id"), "left")
      .join(rulesKeepVotesFrom(base).withColumnRenamed("keep", "kr"),
        Seq("doc_id"), "left")
      .join(qfKeepVotesFrom(base).withColumnRenamed("keep", "kl"),
        Seq("doc_id"), "left")
      .select(coalesce($"ka", lit(false)).cast("long").as("va"),
        coalesce($"kr", lit(false)).cast("long").as("vr"),
        coalesce($"kl", lit(false)).cast("long").as("vl"))
    val g = votes
      .select($"va", $"vr", $"vl", ($"va" + $"vr" + $"vl").as("li"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"va").as("ga"), sum($"vr").as("gr"), sum($"vl").as("gl"),
        sum($"li").as("t"), sum($"li" * $"li").as("l2"))
    val qNum = lit(2L).cast(d38) *
      (lit(3L).cast(d38) *
        ($"ga".cast(d38) * $"ga" + $"gr".cast(d38) * $"gr" +
          $"gl".cast(d38) * $"gl") - $"t".cast(d38) * $"t")
    val qDen = lit(3L) * $"t" - $"l2"
    g.select($"n_docs", $"ga".as("keeps_lm"), $"gr".as("keeps_rules"),
      $"gl".as("keeps_learned"), $"t".as("sum_votes"),
      when(qDen > 0L, qNum.cast("double") / qDen.cast("double"))
        .as("chi2_cochran"),
      coalesce(when(qDen > 0L,
        qNum.cast("double") / qDen.cast("double") > lit(Chi2Crit95(1))),
        lit(false)).as("raters_differ"))
  }

  /** Wilson score intervals (Wilson 1927, public definition) for the
    * three filters' keep rates — the UNCERTAINTY the ensemble panel
    * reports without: q396/q402 say whether filters differ; the Wilson
    * band says what each rate IS, with the coverage behavior near 0/1
    * that makes it the production default over the Wald interval
    * (never escapes [0,1], never collapses at p̂ ∈ {0,1}). Per filter:
    * n and k exact off the shared vote chains, then
    * (p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²))/(1 + z²/n) as one fixed
    * IEEE tree per bound at the literal z = [[MwCritAlpha05]]. Empty
    * corpora keep NULLs. Scale: the three chains → one 3-key census. */
  def wilsonKeepRates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = ensembleDocBase(s, dir)
    val tagged = lmKeepVotesFrom(base)
      .select(lit("lm_unigram").as("filter"), $"keep")
      .unionAll(rulesKeepVotesFrom(base)
        .select(lit("gopher_rules").as("filter"), $"keep"))
      .unionAll(qfKeepVotesFrom(base)
        .select(lit("learned_qf").as("filter"), $"keep"))
    val g = tagged.groupBy($"filter")
      .agg(count(lit(1)).as("n"),
        sum(when($"keep", 1L).otherwise(0L)).as("k"))
    val z = lit(MwCritAlpha05)
    val nD = $"n".cast("double")
    val p = ratio($"k", $"n")
    val center = p + z * z / (lit(2.0) * nD)
    val half = z * sqrt(p * (lit(1.0) - p) / nD +
      z * z / (lit(4.0) * nD * nD))
    val denom = lit(1.0) + z * z / nD
    g.select($"filter", $"n".as("n_docs"), $"k".as("n_keep"),
      when($"n" > 0L, p).as("keep_rate"),
      when($"n" > 0L, (center - half) / denom).as("wilson_lo"),
      when($"n" > 0L, (center + half) / denom).as("wilson_hi"),
      when($"n" > 0L,
        (center + half) / denom - (center - half) / denom).as("ci_width"))
      .orderBy($"filter")
  }

  /** Fleiss' kappa (Fleiss 1971, public definition) over the filter
    * ENSEMBLE — chance-corrected agreement of the three independent
    * quality raters the engine ships (q131 unigram gate, q147 Gopher
    * rules, q325 learned filter) on their per-doc keep/drop votes: the
    * multi-rater diagnostic that says whether the raters measure the
    * same notion of quality or mostly coincide by chance. Exact
    * rationals end-to-end (the q364 kappa stance generalized): each doc
    * collapses to its keep-vote count k ∈ {0..3}, the corpus to the
    * ≤4-row k-census, and with N docs, K = Σk, Q = Σk²:
    * P̄ = (2Q − 6K + 6N)/(6N), P̄ₑ = (K² + (3N−K)²)/(9N²), and clearing
    * denominators κ = (3N(2Q−6K+6N) − 2(K²+(3N−K)²)) /
    * (2(9N² − K² − (3N−K)²)) — numerator and denominator exact in
    * decimal(38,0) (≲90N², good past 10¹⁷ docs; VARCHAR-routed in the
    * oracle), one shared divide. All-unanimous-per-doc corpora give
    * κ = 1 exactly (numerator = denominator, spec-pinned); a
    * constant ENSEMBLE (P̄ₑ = 1, denominator 0) takes the q364
    * perfect-agreement convention κ = 1. Output: the k-census rows with
    * the global panel riding. Scale: three filter chains meet in one
    * doc_id join → a ≤4-key census → 3-cell moments. */
  def fleissKappaEnsemble(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = ensembleDocBase(s, dir)
    val votes = base.select($"doc_id")
      .join(lmKeepVotesFrom(base).withColumnRenamed("keep", "ka"),
        Seq("doc_id"), "left")
      .join(rulesKeepVotesFrom(base).withColumnRenamed("keep", "kr"),
        Seq("doc_id"), "left")
      .join(qfKeepVotesFrom(base).withColumnRenamed("keep", "kl"),
        Seq("doc_id"), "left")
      .select((coalesce($"ka", lit(false)).cast("long") +
        coalesce($"kr", lit(false)).cast("long") +
        coalesce($"kl", lit(false)).cast("long")).as("k_keep"))
    val census = Pinned.pin(votes.groupBy($"k_keep")
      .agg(count(lit(1)).as("n_docs"))) // read by the moments AND the rows
    val tot = census.agg(sum($"n_docs").as("nn"),
      sum($"k_keep" * $"n_docs").as("kk"),
      sum($"k_keep" * $"k_keep" * $"n_docs").as("qq"))
    val threeN = lit(3L) * $"nn"
    val pbarNum = lit(2L) * $"qq" - lit(6L) * $"kk" + lit(6L) * $"nn"
    val peNum = $"kk".cast(d38) * $"kk" +
      (threeN - $"kk").cast(d38) * (threeN - $"kk")
    val kNum = threeN.cast(d38) * pbarNum - lit(2L).cast(d38) * peNum
    val kDen = lit(2L).cast(d38) * (threeN.cast(d38) * threeN - peNum)
    val stats = tot.select($"nn".as("n_docs_total"),
      $"kk".as("n_keep_votes"),
      ratio($"kk", threeN).as("p_keep"),
      ratio(pbarNum, lit(6L) * $"nn").as("pbar"),
      (peNum.cast("double") /
        (threeN.cast("double") * threeN.cast("double"))).as("pbar_e"),
      when(kDen =!= 0, kNum.cast("double") / kDen.cast("double"))
        .otherwise(lit(1.0)).as("fleiss_kappa"))
    census.crossJoin(broadcast(stats)).orderBy($"k_keep")
  }

  /** Krippendorff's alpha (Krippendorff 1970/2004, public definition)
    * over the filter ensemble — the third leg of the rater-agreement
    * tier (q397's Fleiss corrects chance from per-rater margins; q402's
    * Cochran tests marginal homogeneity; Krippendorff corrects against
    * the POOLED value distribution, the estimator that stays defined
    * under missing ratings and is the content-analysis standard): with
    * m = 3 raters, binary keep votes, per-doc keep count k, the
    * disagreement sums collapse to exact integers — observed
    * D_o = Σk(3−k)/(3N) (pairable disagreeing pairs per doc over
    * m(m−1) = 6, doubled), expected D_e = 2·P·(3N−P)/(3N(3N−1)) with
    * P = Σk the pooled keep votes — and clearing denominators
    * α = (2P(3N−P) − (3N−1)·Σk(3−k)) / (2P(3N−P)): numerator and
    * denominator exact in decimal(38,0) (VARCHAR-routed), ONE shared
    * divide. Laws (spec): every doc unanimous ⇒ α = 1 exactly; a
    * single discordant doc ⇒ α = 0 exactly (D_o = D_e, the classic
    * one-unit degeneracy); a constant ensemble (P = 0 or P = 3N —
    * D_e = 0) leaves α NULL — unlike q397's κ = 1 convention,
    * Krippendorff is UNDEFINED without value variance (the published
    * stance). `reliable` applies the customary α ≥ 0.8 line
    * (Krippendorff's reporting convention, a literal). Envelope:
    * 2P(3N−P) ≤ 4.5N² — exact past 10¹⁸ docs. Scale: the three vote
    * chains meet in one doc_id join → one 3-cell moment agg → one
    * row. */
  def krippendorffAlpha(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val base = ensembleDocBase(s, dir)
    val votes = base.select($"doc_id")
      .join(lmKeepVotesFrom(base).withColumnRenamed("keep", "ka"),
        Seq("doc_id"), "left")
      .join(rulesKeepVotesFrom(base).withColumnRenamed("keep", "kr"),
        Seq("doc_id"), "left")
      .join(qfKeepVotesFrom(base).withColumnRenamed("keep", "kl"),
        Seq("doc_id"), "left")
      .select((coalesce($"ka", lit(false)).cast("long") +
        coalesce($"kr", lit(false)).cast("long") +
        coalesce($"kl", lit(false)).cast("long")).as("k"))
    val g = votes.agg(count(lit(1)).as("nn"),
      coalesce(sum($"k"), lit(0L)).as("kk"),
      coalesce(sum($"k" * (lit(3L) - $"k")), lit(0L)).as("sdis"))
    val threeN = lit(3L) * $"nn"
    val twoPD = lit(2L) * $"kk".cast(d38) * (threeN - $"kk")
    val aNum = twoPD - (threeN - 1L).cast(d38) * $"sdis"
    val alpha = aNum.cast("double") / twoPD.cast("double")
    g.select($"nn".as("n_docs"), $"kk".as("n_keep_votes"),
      $"sdis".as("s_disagree"),
      when($"nn" > 0L, ratio($"sdis", threeN)).as("d_observed"),
      when($"nn" > 0L && threeN > 1L,
        twoPD.cast("double") /
          (threeN.cast(d38) * (threeN - 1L)).cast("double"))
        .as("d_expected"),
      when(twoPD > 0, alpha).as("kripp_alpha"),
      coalesce(when(twoPD > 0, alpha >= lit(0.8)), lit(false))
        .as("reliable"))
  }

  /** Domain-blocklist filtering by SUFFIX match — the URL-level curation
    * gate next to q115's canonicalization: a blocklist entry blocks a
    * domain and every subdomain under it. The scalable form (this
    * implementation): explode each domain into its label-suffix chain
    * (a.b.c → [a.b.c, b.c, c]) and BROADCAST-join the blocklist on exact
    * suffix — O(labels) rows per doc against a hash lookup, which is how
    * a 100 k-rule blocklist meets 100 TB of URLs without a single LIKE
    * scan. Most-specific rule wins (max_by on label-chain length). The
    * oracle states the same semantics as explicit suffix CASE arms —
    * tractable because the declared blocklist is 3 literal rules. */
  def domainBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = Seq("src7.fr.site", "es.site", "badsrc.zz.site")
    val rulesDf = rules.toDF("rule")
    val docs = Tables.documents(s, dir)
      .withColumn("domain", concat($"source", lit("."), $"lang", lit(".site")))
    val matched = docs
      .withColumn("parts", split($"domain", "\\."))
      .select($"doc_id", explode(
        transform(sequence(lit(1), size($"parts")),
          i => array_join(slice($"parts", i, size($"parts") - i + 1), "."))
      ).as("sfx"))
      .join(broadcast(rulesDf), $"sfx" === $"rule")
      .groupBy($"doc_id")
      .agg(max_by($"rule", length($"rule")).as("matched_rule"))
    docs.join(matched, Seq("doc_id"), "left")
      .select($"doc_id", $"domain",
        coalesce($"matched_rule", lit("none")).as("matched_rule"),
        $"matched_rule".isNotNull.as("blocked"))
      .orderBy($"doc_id")
  }

  /** Inverted-index construction with BOUNDED posting heads — the index-
    * build behind q132's BM25 probe, declared as its own operator: per
    * (term, doc) tf, then per term df + total_tf + the first 5 postings
    * by doc id as a packed string. The head is capped BEFORE any
    * collection: a row_number window over the tf table keeps ≤5 rows per
    * term (WindowGroupLimit prunes the rest rank-side), so the
    * collect_list buffer is bounded by construction — the naive
    * collect-then-slice form buffers EVERY posting of a stopword-grade
    * term and collapses at scale. Posting doc-ids are zero-padded so the
    * string sort equals the numeric sort. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"tok", $"doc_id")
      .agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy($"tok")
      .agg(count(lit(1)).as("df"), sum($"tf").cast("long").as("total_tf"))
    val wTerm = Window.partitionBy($"tok").orderBy($"doc_id".asc)
    val heads = tf
      .withColumn("rn", row_number().over(wTerm))
      .filter($"rn" <= 5)
      .groupBy($"tok")
      .agg(array_join(array_sort(collect_list(
        concat(lpad($"doc_id".cast("string"), 8, "0"), lit(":"),
          $"tf".cast("string")))), ",").as("postings_head"))
    stats.join(heads, "tok")
      .select($"tok".as("term"), $"df", $"total_tf", $"postings_head")
      .orderBy($"term")
  }

  /** End-to-end curation FUNNEL — the pipeline composition the individual
    * operators exist for (lang gate → Gopher-style quality gate → exact
    * dedup), declared as a per-stage survival census: (stage, n_in,
    * n_out, drop_rate). This is the artifact a curation run actually
    * ships to its operators — where did the corpus go? — and the
    * composition is ONE pass: every per-doc flag is computed in a single
    * scan (+ the q147 top-token digest agg), the dedup rank windows ONLY
    * the rows that survived the earlier gates (partitioned by text
    * digest — no text crosses the wire), and the three stage rows fall
    * out of one global aggregate. Stage semantics are cumulative by
    * construction, so n_in of stage k+1 provably equals n_out of stage
    * k — a broken funnel invariant cannot hash-match. */
  def curationFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Seq("the", "a")
    val base = Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text"))
      .withColumn("ntok", size($"toks").cast("long"))
      .withColumn("nosp", length(regexp_replace($"text", " ", "")).cast("long"))
      .withColumn("n_stop_present",
        size(filter(array(stop.map(lit): _*),
          t => array_contains($"toks", t))).cast("long"))
      .withColumn("digest", md5($"text"))
      .select($"doc_id", $"lang", $"ntok", $"nosp", $"n_stop_present", $"digest")
    val top = Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"doc_id", md5($"tok").as("td"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(max($"cnt").as("top_cnt"))
    val flagged = base.join(top, "doc_id")
      .withColumn("lang_ok", $"lang" === "en")
      .withColumn("q_ok",
        $"ntok" >= 25L && $"ntok" <= 90L &&
          ratio($"nosp", $"ntok") >= lit(4.0) && ratio($"nosp", $"ntok") < lit(7.0) &&
          $"n_stop_present" >= 2L && $"top_cnt" * 10L <= $"ntok")
    // dedup rank over the gate survivors only: first doc per digest wins
    val wDigest = Window.partitionBy($"digest").orderBy($"doc_id".asc)
    val ranked = flagged.filter($"lang_ok" && $"q_ok")
      .withColumn("first_of_digest", row_number().over(wDigest) === 1)
      .groupBy().agg(
        count(lit(1)).as("n2"),
        sum(when($"first_of_digest", 1L).otherwise(0L)).as("n3"))
    val totals = flagged.groupBy().agg(
      count(lit(1)).as("n0"),
      sum(when($"lang_ok", 1L).otherwise(0L)).as("n1"))
    totals.crossJoin(ranked)
      .select(explode(array(
        struct(lit("1_lang").as("stage"), $"n0".as("n_in"), $"n1".as("n_out")),
        struct(lit("2_quality").as("stage"), $"n1".as("n_in"), $"n2".as("n_out")),
        struct(lit("3_dedup").as("stage"), $"n2".as("n_in"), $"n3".as("n_out")))).as("r"))
      .select($"r.stage", $"r.n_in", $"r.n_out",
        ratio($"r.n_in" - $"r.n_out", $"r.n_in").as("drop_rate"))
      .orderBy($"stage")
  }

  /** BPE tokenizer-vocabulary induction, two merge rounds UNROLLED — the
    * training half of the tokenizer q51 only applies. Exactly how real
    * BPE trainers work at scale: the corpus is touched ONCE to build the
    * (word, freq) dictionary; every merge round then operates on the
    * VOCABULARY (bounded — ~50 surface forms here, ≤|vocab| anywhere),
    * weighted by freq. Words are DOUBLE-spaced symbol strings
    * ('  c  o  l  d  '); pair counts explode symbol bigrams weighted by
    * word freq; the winning pair (max count, lexicographic tie-break)
    * merges via literal string replace whose pattern keeps ONE of each
    * boundary's two spaces — '  l  d  ' matched as ' l  d ' → ' ld ' —
    * so each match leaves the shared boundary space for the adjacent
    * site and non-overlapping left-to-right replace IS greedy BPE
    * (Sennrich 2016) even inside repeated-symbol runs: '  a  a  a  a  '
    * → '  aa  aa  ', where a single-spaced pattern ' a a ' would
    * consume the shared space and skip alternate sites in runs ≥ 4
    * (' a a a a ' → ' aa a a '). Identical semantics in both engines. Each round is a
    * vocab-bounded agg + a 1-row broadcast back; nothing about the
    * corpus re-shuffles, so 100 TB costs one word-count pass. */
  /** Shared BPE machinery for q157 (training census) and q196 (encode
    * census): the checkpointed (word, freq, DOUBLE-spaced segmentation)
    * dict, pair counting, top-pair selection, and the literal-replace
    * merge application — the pattern keeps one of each boundary's two
    * spaces, so left-to-right non-overlapping replace merges every
    * greedy site including runs of repeated symbols (see
    * [[bpeMerges]]'s doc for the run-≥4 counterexample the
    * single-spaced form got wrong). */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pinned: the dict is referenced by both merge rounds — cut
    // lineage so the corpus word-count really runs ONCE (q76's pattern).
    // LAZY (r20, the r19 min-label lesson): the first consumer's action
    // materializes the pin, so the dict build is not its own extra job.
    Pinned.pin(Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .withColumn("seg", concat(lit("  "),
        regexp_replace($"w", "(.)", "$1  "))))
  }
  private def bpePairCounts(v: DataFrame): DataFrame = {
    import v.sparkSession.implicits._
    v.withColumn("syms", split(trim($"seg"), "  "))
      // sequence(1, 0) DESCENDS in Spark — guard the single-symbol words
      // (explode of the empty array drops them, matching DuckDB's range)
      .select($"freq", explode(
        when(size($"syms") >= 2,
          transform(sequence(lit(1), size($"syms") - 1),
            i => concat(element_at($"syms", i), lit(" "), element_at($"syms", i + 1))))
          .otherwise(array())
      ).as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("cnt"))
  }
  private def bpeTopPair(pc: DataFrame): DataFrame = {
    import pc.sparkSession.implicits._
    pc.orderBy($"cnt".desc, $"pair".asc).limit(1)
      .select($"pair".as("top_pair"), $"cnt".as("top_cnt"))
  }
  private def bpeApplyMerge(v: DataFrame, top: DataFrame): DataFrame = {
    import v.sparkSession.implicits._
    v.crossJoin(broadcast(top))
      .withColumn("seg", expr(
        "replace(seg, ' ' || replace(top_pair, ' ', '  ') || ' ', " +
          "' ' || replace(top_pair, ' ', '') || ' ')"))
      .select($"w", $"freq", $"seg")
  }

  def bpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = bpeVocab(s, dir)
    val top1 = bpeTopPair(bpePairCounts(vocab))
    val vocab2 = bpeApplyMerge(vocab, top1)
    val top2 = bpeTopPair(bpePairCounts(vocab2))
    top1.select(lit(1).as("round"), $"top_pair".as("pair"),
        regexp_replace($"top_pair", " ", "").as("merged"), $"top_cnt".as("cnt"))
      .unionAll(top2.select(lit(2).as("round"), $"top_pair".as("pair"),
        regexp_replace($"top_pair", " ", "").as("merged"), $"top_cnt".as("cnt")))
      .orderBy($"round")
  }

  /** BPE ENCODE — the inference half q157 trains: apply both learned
    * merges to the dictionary and census the resulting subword
    * vocabulary (per symbol: total corpus occurrences weighted by word
    * frequency, and how many distinct surface forms contain it). This is
    * the tokenizer-deployment shape: encoding touches the VOCABULARY
    * (bounded), never re-shuffles the corpus — tokenizing 100 TB costs
    * the one word-count pass plus an O(|vocab|·|merges|) replay, which
    * is why real tokenizers ship merge lists, not segmentations. Oracle
    * = the identical merge replay + unnest census in DuckDB (formulation
    * twin, the q157 contract). */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = bpeVocab(s, dir)
    val top1 = bpeTopPair(bpePairCounts(vocab))
    val vocab2 = bpeApplyMerge(vocab, top1)
    val top2 = bpeTopPair(bpePairCounts(vocab2))
    val vocab3 = bpeApplyMerge(vocab2, top2)
    vocab3
      .select($"w", $"freq", explode(split(trim($"seg"), "  ")).as("sym"))
      .groupBy($"sym")
      .agg(sum($"freq").as("n_occurrences"),
        countDistinct($"w").as("n_words"))
      .orderBy($"sym")
  }

  /** Merge-round count for [[bpeMergeLoop]]. A production induction runs
    * thousands of rounds with the same per-round shape; 8 is enough to
    * leave any unrolled form behind and exercise the loop's early-exit
    * path in specs (a pair-exhausted vocabulary stops the loop). */
  val BpeLoopRounds = 8

  /** Full BPE merge LOOP — the production tokenizer induction (Sennrich
    * et al. 2016's algorithm, trained the way real trainers train:
    * K greedy rounds over the weighted word dictionary, never the
    * corpus). q157 proves two UNROLLED rounds; this runs
    * [[BpeLoopRounds]] DRIVER-COORDINATED rounds in q309's bounded-
    * narrowing style — per round: one vocabulary-bounded pair-count
    * aggregate, a ≤1-row collect of the winning pair (max count,
    * lexicographic tie-break — greedy BPE's determinism rule), the merge
    * applied as a LITERAL string replace over the checkpointed
    * (word, freq, seg) dict (double-spaced boundaries make
    * non-overlapping left-to-right replace exactly the greedy merge
    * rule, runs included — [[bpeMerges]]'s doc), then q196's
    * explode machinery re-encodes the vocabulary for the round's
    * distinct-symbol census. The corpus is touched ONCE (the dict
    * build); each round's distributed work is O(|vocab|) map-side
    * replaces + one bounded agg, and only TWO driver-side rows per round
    * cross the gate — the q309 narrowing contract, so inducting over
    * 100 TB costs the one word-count pass. The loop is TOTAL: a
    * vocabulary with no pairs left (every word fully merged) ends it
    * early, emitting only the completed rounds — exactly what the
    * oracle's replay emits, because every later top_k CTE is empty.
    * Oracle: the identical K-round replay as a programmatically
    * generated CTE chain (pc_k → top_k → vocab_{k+1} → census_k), every
    * multiply-referenced CTE MATERIALIZED (DuckDB inlines CTEs; an
    * unmaterialized chain re-derives vocab_k exponentially). */
  def bpeMergeLoop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Fixpoint.greedyMerges(bpeVocab(s, dir), BpeLoopRounds,
        v => bpeTopPair(bpePairCounts(v)))
      .map(m => (m.round, m.pair, m.merged, m.top.getLong(1), m.vocabSyms))
      .toDF("round", "pair", "merged", "cnt", "vocab_syms")
      .orderBy($"round")
  }

  /** q360's oracle: seed cut + [[UlmRounds]] EM rounds as generated
    * CTEs. The Viterbi DP is a LINEAR recursive CTE carrying the last
    * [[UlmMaxPieceLen]] best-costs as state (one row per (word, pos) —
    * never the exponential all-segmentations closure); the backwalk is
    * a second linear recursion re-deriving each chosen piece under the
    * identical largest-j tie rule; each round's prune median is a
    * list-selection CTE the Spark side's driver-collected literal must
    * hash-match. */
  private def ulmRoundSql(r: Int): String = {
    val prev = if (r == 1) "p0" else s"p${r - 1}"
    val inf = UlmInf
    s""",
       |dp$r(word, wl, pos, s0, s1, s2, s3) AS (
       |  SELECT w, wl, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       |         CAST($inf AS BIGINT), CAST($inf AS BIGINT), CAST($inf AS BIGINT)
       |  FROM words
       |  UNION ALL
       |  SELECT d.word, d.wl, d.pos + 1,
       |         least(
       |           d.s0 + coalesce(q1.cost, $inf),
       |           CASE WHEN d.pos >= 1 THEN d.s1 + coalesce(q2.cost, $inf)
       |                ELSE $inf END,
       |           CASE WHEN d.pos >= 2 THEN d.s2 + coalesce(q3.cost, $inf)
       |                ELSE $inf END,
       |           CASE WHEN d.pos >= 3 THEN d.s3 + coalesce(q4.cost, $inf)
       |                ELSE $inf END),
       |         d.s0, d.s1, d.s2
       |  FROM dp$r d
       |  LEFT JOIN $prev q1 ON q1.piece = substr(d.word, CAST(d.pos + 1 AS INT), 1)
       |  LEFT JOIN $prev q2 ON d.pos >= 1 AND q2.piece = substr(d.word, CAST(d.pos AS INT), 2)
       |  LEFT JOIN $prev q3 ON d.pos >= 2 AND q3.piece = substr(d.word, CAST(d.pos - 1 AS INT), 3)
       |  LEFT JOIN $prev q4 ON d.pos >= 3 AND q4.piece = substr(d.word, CAST(d.pos - 2 AS INT), 4)
       |  WHERE d.pos < d.wl
       |),
       |best$r AS MATERIALIZED (SELECT word, pos, s0 AS b FROM dp$r),
       |bt$r(word, freq, cur, piece) AS (
       |  SELECT w, freq, wl, CAST(NULL AS VARCHAR) FROM words
       |  UNION ALL
       |  SELECT t.word, t.freq,
       |    t.cur - (CASE
       |      WHEN t.cur >= 4 AND b4.b + coalesce(q4.cost, $inf) = bc.b THEN 4
       |      WHEN t.cur >= 3 AND b3.b + coalesce(q3.cost, $inf) = bc.b THEN 3
       |      WHEN t.cur >= 2 AND b2.b + coalesce(q2.cost, $inf) = bc.b THEN 2
       |      ELSE 1 END),
       |    (CASE
       |      WHEN t.cur >= 4 AND b4.b + coalesce(q4.cost, $inf) = bc.b
       |        THEN substr(t.word, CAST(t.cur - 3 AS INT), 4)
       |      WHEN t.cur >= 3 AND b3.b + coalesce(q3.cost, $inf) = bc.b
       |        THEN substr(t.word, CAST(t.cur - 2 AS INT), 3)
       |      WHEN t.cur >= 2 AND b2.b + coalesce(q2.cost, $inf) = bc.b
       |        THEN substr(t.word, CAST(t.cur - 1 AS INT), 2)
       |      ELSE substr(t.word, CAST(t.cur AS INT), 1) END)
       |  FROM bt$r t
       |  JOIN best$r bc ON bc.word = t.word AND bc.pos = t.cur
       |  LEFT JOIN best$r b2 ON b2.word = t.word AND b2.pos = t.cur - 2
       |  LEFT JOIN best$r b3 ON b3.word = t.word AND b3.pos = t.cur - 3
       |  LEFT JOIN best$r b4 ON b4.word = t.word AND b4.pos = t.cur - 4
       |  LEFT JOIN $prev q2 ON t.cur >= 2 AND q2.piece = substr(t.word, CAST(t.cur - 1 AS INT), 2)
       |  LEFT JOIN $prev q3 ON t.cur >= 3 AND q3.piece = substr(t.word, CAST(t.cur - 2 AS INT), 3)
       |  LEFT JOIN $prev q4 ON t.cur >= 4 AND q4.piece = substr(t.word, CAST(t.cur - 3 AS INT), 4)
       |  WHERE t.cur > 0
       |),
       |usage$r AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS u
       |  FROM bt$r WHERE piece IS NOT NULL GROUP BY 1
       |),
       |pu$r AS MATERIALIZED (
       |  SELECT p.piece, CAST(coalesce(u.u, 0) AS BIGINT) AS u
       |  FROM $prev p LEFT JOIN usage$r u USING (piece)
       |),
       |med$r AS (
       |  SELECT CAST(CASE WHEN len(xs) > 0 THEN xs[(len(xs) + 1) // 2]
       |              ELSE 0 END AS BIGINT) AS med
       |  FROM (SELECT list(u ORDER BY u) AS xs FROM pu$r
       |        WHERE length(piece) > 1 AND u > 0)
       |),
       |sur$r AS MATERIALIZED (
       |  SELECT piece, u FROM pu$r, med$r
       |  WHERE length(piece) = 1 OR (u > 0 AND u >= med)
       |),
       |ut$r AS (SELECT CAST(sum(u) AS BIGINT) AS ut FROM sur$r),
       |p$r AS MATERIALIZED (
       |  SELECT piece,
       |         CAST(length(bin(ut)) AS BIGINT)
       |           - CASE WHEN u > 0 THEN CAST(length(bin(u)) AS BIGINT)
       |                  ELSE 0 END AS cost,
       |         u
       |  FROM sur$r, ut$r
       |)""".stripMargin
  }

  private def ulmOracleSql: String = {
    val rounds = (1 to UlmRounds).map(ulmRoundSql).mkString
    val k = UlmRounds
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |         CAST(length(w) AS BIGINT) AS wl
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  WHERE length(w) >= 1
       |  GROUP BY 1
       |),
       |gridw AS MATERIALIZED (
       |  SELECT w, freq, st, j,
       |         substr(w, CAST(st AS INT), CAST(j AS INT)) AS piece
       |  FROM (SELECT w, freq, wl, unnest(range(1, wl + 1)) AS st FROM words),
       |       (SELECT unnest([1, 2, 3, 4]) AS j)
       |  WHERE st + j - 1 <= wl
       |),
       |subc AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM gridw GROUP BY 1
       |),
       |seed AS MATERIALIZED (
       |  SELECT piece, c FROM subc WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, c FROM (
       |    SELECT piece, c FROM subc WHERE length(piece) > 1
       |    ORDER BY c DESC, piece ASC LIMIT $UlmSeedMulti)
       |),
       |ct AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM seed),
       |p0 AS MATERIALIZED (
       |  SELECT piece, CAST(length(bin(ct)) AS BIGINT)
       |           - CAST(length(bin(c)) AS BIGINT) AS cost
       |  FROM seed, ct
       |)""".stripMargin + rounds +
      s"""
         |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
         |       u AS usage, cost AS cost_bits,
         |       (SELECT CAST(count(*) AS BIGINT) FROM p$k) AS n_pieces,
         |       (SELECT CAST(sum(u) AS BIGINT) FROM p$k) AS total_usage,
         |       CAST($UlmRounds AS BIGINT) AS n_rounds,
         |       (SELECT med FROM med1) AS med_r1,
         |       (SELECT med FROM med2) AS med_r2
         |FROM p$k
         |ORDER BY piece""".stripMargin
  }

  /** q329's oracle: the [[BpeLoopRounds]]-round replay, generated as one
    * CTE chain per round. See [[bpeMergeLoop]]'s Scaladoc for why every
    * vocab_k / top_k is MATERIALIZED. */
  private def bpeLoopOracleSql: String = {
    val rounds = (1 to BpeLoopRounds).map { k =>
      s""",
         |pc$k AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms FROM vocab$k))
         |  GROUP BY pair
         |),
         |top$k AS MATERIALIZED (
         |  SELECT pair AS top_pair, cnt AS top_cnt FROM pc$k
         |  ORDER BY cnt DESC, pair ASC LIMIT 1
         |),
         |vocab${k + 1} AS MATERIALIZED (
         |  SELECT w, freq,
         |         replace(seg, ' ' || replace(top_pair, ' ', '  ') || ' ',
         |                 ' ' || replace(top_pair, ' ', '') || ' ') AS seg
         |  FROM vocab$k, top$k
         |),
         |vs$k AS (
         |  SELECT CAST(count(DISTINCT sym) AS BIGINT) AS vocab_syms
         |  FROM (SELECT unnest(string_split(trim(seg), '  ')) AS sym
         |        FROM vocab${k + 1})
         |)""".stripMargin
    }.mkString
    val sel = (1 to BpeLoopRounds).map { k =>
      s"""  SELECT $k AS round, top_pair AS pair,
         |         replace(top_pair, ' ', '') AS merged, top_cnt AS cnt,
         |         vocab_syms FROM top$k, vs$k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH vocab1 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |         '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seg
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  GROUP BY w
       |)""".stripMargin + rounds +
      s"\nSELECT CAST(round AS INT) AS round, pair, merged, cnt, vocab_syms" +
      s"\nFROM (\n$sel)\nORDER BY round"
  }

  /** Round count for [[wordpieceMergeLoop]] — the q329 protocol depth,
    * kept at 6 because each round carries the extra bounded argmax join
    * (the per-round SHAPE, not the count, is what the loop proves). */
  val WpLoopRounds = 6

  /** WordPiece tokenizer induction (Schuster & Nakajima 2012; the BERT
    * tokenizer's training rule, public descriptions) — the third
    * production tokenizer family beside BPE (q157/q329: count argmax)
    * and unigram-LM (q360: EM over a seeded vocabulary): greedy merges
    * like BPE, but the merged pair maximizes the LIKELIHOOD RATIO
    * freq(ab)/(freq(a)·freq(b)) — the pair whose merge most increases a
    * unigram LM's corpus likelihood — never the raw count (the case that
    * distinguishes the families: a rare pair of rare symbols can beat
    * the most frequent pair, spec-pinned). The argmax is EXACT: scores
    * compare by integer cross-multiply (cnt_b·den_a vs cnt_a·den_b in
    * decimal(38,0); den = fa·fb ≤ F², products ≤ F³ — exact to symbol
    * frequencies F < 4·10¹², comfortably past 100 TB symbol counts,
    * ANSI makes any breach loud), ties to the lexicographically
    * smallest pair; implemented as a left-anti join of the
    * VOCAB-BOUNDED scored-pair census against its broadcast twin (the
    * q303 bounded-pairs stance — never corpus-scale). Per round: one
    * O(|vocab|) pair + symbol census, the bounded argmax, a 1-row
    * driver gate, one literal-replace merge over the checkpointed dict,
    * one 1-row symbol-census gate — q329's exact protocol, so inducting
    * over 100 TB costs the one word-count pass. The loop is TOTAL: a
    * pair-exhausted vocabulary ends it early, emitting only completed
    * rounds — exactly what the oracle's replay emits. Oracle: the
    * K-round replay as generated CTEs; the argmax replays as a
    * NOT-EXISTS cross-multiply in HUGEINT.
    *
    * DEPTH CAP (r18 verdict): the exact argmax is a broadcast
    * nested-loop anti-join — O(P²) comparisons in the pair census P per
    * round. P is symbol-adjacency-bounded (hundreds at
    * [[WpLoopRounds]] = 6), so the quadratic term is immaterial as
    * shipped; do NOT raise the depth toward a production vocab (30k
    * merges) without first narrowing candidates: one 1-row agg takes
    * the double-score max, a filter keeps pairs within a few ulps of
    * it, and the exact cross-multiply anti-join runs only on that
    * handful. q381's threshold argmax shares the pattern over a
    * doc-length-bounded census — same note, same upgrade path. */
  def wordpieceMergeLoop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    // the round's likelihood-ratio argmax over a vocab `v` — the ≤1-row
    // frame of (pair, cnt, fa, fb); see the DEPTH CAP note above for the
    // O(P²) anti-join bound
    def wpTop(v: DataFrame): DataFrame = {
      val syms = v
        .select($"freq", explode(split(trim($"seg"), "  ")).as("sym"))
        .groupBy($"sym").agg(sum($"freq").as("f"))
      val scored = bpePairCounts(v)
        .withColumn("pa", split($"pair", " ")(0))
        .withColumn("pb", split($"pair", " ")(1))
        .join(broadcast(syms.select($"sym".as("pa"), $"f".as("fa"))), Seq("pa"))
        .join(broadcast(syms.select($"sym".as("pb"), $"f".as("fb"))), Seq("pb"))
        .select($"pair", $"cnt", $"fa", $"fb",
          ($"fa".cast(d38) * $"fb").as("den"))
      // the cross-multiply total order has exactly ONE maximum: keep the
      // row no competitor strictly beats (higher score, or equal score
      // and lexicographically smaller pair)
      scored.join(broadcast(scored.select($"pair".as("opair"),
          $"cnt".as("ocnt"), $"den".as("oden"))),
          ($"ocnt".cast(d38) * $"den" > $"cnt".cast(d38) * $"oden") ||
            ($"ocnt".cast(d38) * $"den" === $"cnt".cast(d38) * $"oden" &&
              $"opair" < $"pair"),
          "left_anti")
        .select($"pair", $"cnt", $"fa", $"fb")
    }
    Fixpoint.greedyMerges(bpeVocab(s, dir), WpLoopRounds, wpTop)
      .map(m => (m.round, m.pair, m.merged, m.top.getLong(1), m.top.getLong(2),
        m.top.getLong(3), m.vocabSyms))
      .toDF("round", "pair", "merged", "cnt", "fa", "fb", "vocab_syms")
      .withColumn("score", $"cnt".cast("double") /
        ($"fa".cast("double") * $"fb".cast("double")))
      .orderBy($"round")
  }

  /** q374's oracle: the [[WpLoopRounds]]-round WordPiece replay —
    * q329's CTE chain with the count argmax swapped for the NOT-EXISTS
    * HUGEINT cross-multiply (b beats a ⟺ cnt_b·den_a > cnt_a·den_b, or
    * equal and b.pair < a.pair). */
  private def wpLoopOracleSql: String = {
    val rounds = (1 to WpLoopRounds).map { k =>
      s""",
         |wpc$k AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms FROM wv$k))
         |  GROUP BY pair
         |),
         |wsym$k AS MATERIALIZED (
         |  SELECT sym, CAST(sum(freq) AS BIGINT) AS f FROM (
         |    SELECT freq, unnest(string_split(trim(seg), '  ')) AS sym FROM wv$k)
         |  GROUP BY sym
         |),
         |wsc$k AS MATERIALIZED (
         |  SELECT p.pair, p.cnt, sa.f AS fa, sb.f AS fb,
         |         CAST(sa.f AS HUGEINT) * sb.f AS den
         |  FROM (SELECT pair, cnt,
         |               string_split(pair, ' ')[1] AS pa,
         |               string_split(pair, ' ')[2] AS pb FROM wpc$k) p
         |  JOIN wsym$k sa ON sa.sym = p.pa
         |  JOIN wsym$k sb ON sb.sym = p.pb
         |),
         |wtop$k AS MATERIALIZED (
         |  SELECT pair AS top_pair, cnt AS top_cnt,
         |         fa AS top_fa, fb AS top_fb
         |  FROM wsc$k a
         |  WHERE NOT EXISTS (SELECT 1 FROM wsc$k b WHERE
         |          CAST(b.cnt AS HUGEINT) * a.den > CAST(a.cnt AS HUGEINT) * b.den
         |          OR (CAST(b.cnt AS HUGEINT) * a.den = CAST(a.cnt AS HUGEINT) * b.den
         |              AND b.pair < a.pair))
         |),
         |wv${k + 1} AS MATERIALIZED (
         |  SELECT w, freq,
         |         replace(seg, ' ' || replace(top_pair, ' ', '  ') || ' ',
         |                 ' ' || replace(top_pair, ' ', '') || ' ') AS seg
         |  FROM wv$k, wtop$k
         |),
         |wvs$k AS (
         |  SELECT CAST(count(DISTINCT sym) AS BIGINT) AS vocab_syms
         |  FROM (SELECT unnest(string_split(trim(seg), '  ')) AS sym
         |        FROM wv${k + 1})
         |)""".stripMargin
    }.mkString
    val sel = (1 to WpLoopRounds).map { k =>
      s"""  SELECT $k AS round, top_pair AS pair,
         |         replace(top_pair, ' ', '') AS merged, top_cnt AS cnt,
         |         top_fa AS fa, top_fb AS fb, vocab_syms,
         |         (CAST(top_cnt AS DOUBLE)
         |          / (CAST(top_fa AS DOUBLE) * CAST(top_fb AS DOUBLE))) AS score
         |  FROM wtop$k, wvs$k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH wv1 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |         '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seg
       |  FROM (SELECT unnest($toksSql) AS w FROM documents)
       |  GROUP BY w
       |)""".stripMargin + rounds +
      s"\nSELECT CAST(round AS INT) AS round, pair, merged, cnt, fa, fb," +
      s" vocab_syms, score" +
      s"\nFROM (\n$sel)\nORDER BY round"
  }

  /** q360 seed size: multi-char seed pieces kept (all single chars ride
    * along for vocabulary closure — every word stays segmentable). */
  val UlmSeedMulti = 48

  /** q360 maximum piece length (SentencePiece-style inductions cap
    * candidate length; 4 keeps the DP fan-in and the oracle's linear
    * recursion at a fixed width). */
  val UlmMaxPieceLen = 4

  /** q360 EM prune rounds — each is one driver-gated (≤1 row) narrowing
    * step, the q309/q329 protocol. */
  val UlmRounds = 2

  /** Out-of-vocabulary sentinel cost: far above any reachable path cost
    * (path ≤ |word|·64 bits), far below long overflow even summed. */
  val UlmInf = 1L << 40

  private def bits(c: Column): Column = length(bin(c)).cast("long")

  /** Unigram-LM (SentencePiece-style, Kudo 2018 — public description)
    * tokenizer induction — the OTHER production tokenizer family next to
    * q329's BPE: instead of greedy pair merges, hold a piece VOCABULARY
    * with costs, VITERBI-segment the word dictionary under those costs
    * (E-step), re-cost pieces from their usage (M-step), and PRUNE the
    * weak half of the multi-char candidates each round — [[UlmRounds]]
    * driver-gated rounds where the only value crossing the driver is the
    * round's lower-median prune line (≤1 row/round, q329's narrowing
    * contract; both medians ride the output as oracle-checked columns).
    *
    * Exactness (the q131 machinery): piece costs are DYADIC-BIT
    * surprisals, cost = bits(Σu) − bits(u) with bits(x) = |bin(x)| — an
    * exact integer log₂ quantization identical in both engines — so the
    * Viterbi DP is INTEGER arithmetic end to end and every tie is
    * decided by rule, not rounding: minimum path cost, ties to the
    * LONGEST piece (the segmenter convention). A production induction
    * uses float log-likelihoods and EM expectations; the hash contract
    * buys bit-exact replay with the same algorithmic shape (documented
    * deviation, the q307/q131 stance).
    *
    * Stages: (1) SEED — all substrings of length ≤ [[UlmMaxPieceLen]]
    * of the word dict, weighted by word frequency; every single char
    * (vocabulary closure — words stay segmentable forever) plus the top
    * [[UlmSeedMulti]] multi-char pieces by (count, lex) — a
    * deterministic ORDER BY/LIMIT cut, oracle-replayed. (2) Per round:
    * Viterbi over each word as a WITHIN-ROW fold — the per-word cost
    * grid (position × piece-length) is built by ONE broadcast join of
    * the exploded position grid against the piece table (never a map
    * probe in the fold — the q325 dense-lookup lesson), the DP folds
    * left-to-right over positions, the backwalk re-derives each chosen
    * piece by the largest-j tie rule; usage = freq-weighted piece
    * occurrences (multiplicity counted). Prune drops multi-char pieces
    * under the round's lower-median usage; single chars never prune.
    * (3) Final vocabulary census with costs, usage, and both gate
    * values riding.
    *
    * Scale shape: the corpus is touched ONCE (the word-count pass);
    * everything after is VOCAB-bounded — the grid is Σ|word|·4 rows,
    * the piece table ≤ chars+[[UlmSeedMulti]] rows (broadcast), each
    * round is one broadcast join + one word-keyed groupBy + map-side
    * folds. Oracle: the seed cut and both EM rounds replayed as
    * generated CTEs — the DP as a LINEAR recursive CTE carrying the
    * last 4 best-costs as state (one row per (word, position), never
    * the exponential all-segmentations closure), the backwalk as a
    * second linear recursion, the medians as list-selection CTEs (the
    * driver-collected literals must MATCH them — the gate itself is
    * hash-checked). */
  def unigramLmTokenizer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the ONE corpus pass; reused by grid + every round (lazy, r20: the
    // round-1 median gate materializes the whole chain in one action)
    val words = Pinned.pin(Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"w").agg(count(lit(1)).as("freq")))
    // (start, len) grid per word; invalid cells (running past the word
    // end) carry a NULL piece so no lookup can alias a shorter piece
    // reused by the seed census and both rounds
    val grid = Pinned.pin(words.select($"w", explode(sequence(lit(1), length($"w"))).as("st"))
      .select($"w", $"st",
        explode(sequence(lit(1), lit(UlmMaxPieceLen))).as("j"))
      .withColumn("piece",
        when($"st" + $"j" - 1 <= length($"w"), $"w".substr($"st", $"j"))))
    // E-step: cost grid via one broadcast join, then within-row folds
    def eStep(pieces: DataFrame): DataFrame = {
      val cm = grid
        .join(broadcast(pieces.select($"piece", $"cost")), Seq("piece"), "left")
        .withColumn("pc", coalesce($"cost", lit(UlmInf)))
        .groupBy($"w")
        .agg(sort_array(collect_list(struct($"st", $"j", $"pc"))).as("cells"))
        .withColumn("cm", transform($"cells", x => x.getField("pc")))
        .select($"w", $"cm")
      words.join(cm, "w")
        .withColumn("best",
          aggregate(sequence(lit(1), length($"w")), array(lit(0L)), (acc, i) => {
            // piece ending at i with length j starts at i−j+1 → grid
            // cell index (start−1)·4 + j = (i−j)·4 + j
            def cand(j: Int): Column =
              when(i >= j, element_at(acc, i - j + 1) +
                element_at($"cm", (i - j) * 4 + j)).otherwise(lit(UlmInf))
            concat(acc, array(least(cand(1), cand(2), cand(3), cand(4))))
          }))
        .withColumn("used", aggregate(
          sequence(lit(1), length($"w")),
          struct(length($"w").as("cur"), array().cast("array<string>").as("ps")),
          (st, _) => {
            val cur = st.getField("cur")
            // explicit cur >= j guard INSIDE cand: element_at(best, 0)
            // throws and negative indexes read from the array END, so
            // correctness must not ride on And short-circuit order
            def cand(j: Int): Column =
              when(cur >= j,
                element_at($"best", cur - j + 1) +
                  element_at($"cm", (cur - j) * 4 + j))
                .otherwise(lit(UlmInf))
            def eqj(j: Int): Column =
              cur >= j && cand(j) === element_at($"best", cur + 1)
            // ties to the LONGEST piece; j = 1 needs no equality check —
            // if no longer piece achieves the minimum, the single char is
            // the minimum by construction (chars are always in vocab)
            val jst = when(eqj(4), 4).when(eqj(3), 3).when(eqj(2), 2)
              .otherwise(1)
            when(cur <= 0, st).otherwise(struct(
              (cur - jst).as("cur"),
              concat(st.getField("ps"),
                array($"w".substr(cur - jst + 1, jst))).as("ps")))
          }).getField("ps"))
        .select($"freq", explode($"used").as("piece"))
        .groupBy($"piece").agg(sum($"freq").as("u"))
    }
    // SEED: weighted substring census → chars ∪ top-K multi, bit costs
    val subCounts = Pinned.pin(grid.filter($"piece".isNotNull)
      .join(words.select($"w", $"freq"), "w")
      .groupBy($"piece").agg(sum($"freq").as("c"))) // read by chars + the top-K cut
    val seed = subCounts.filter(length($"piece") === 1)
      .unionAll(subCounts.filter(length($"piece") > 1)
        .orderBy($"c".desc, $"piece".asc).limit(UlmSeedMulti))
    val ctDf = seed.agg(sum($"c").as("ct"))
    var pieces = Pinned.pin(seed.crossJoin(broadcast(ctDf))
      .select($"piece", (bits($"ct") - bits($"c")).as("cost"), lit(0L).as("u")))
    val meds = Seq.newBuilder[Long]
    for (_ <- 1 to UlmRounds) {
      val usage = eStep(pieces)
      // read by the gate, the prune, and the recost — the med gate below
      // materializes it
      val pu = Pinned.pin(pieces.select($"piece")
        .join(usage, Seq("piece"), "left")
        .withColumn("u", coalesce($"u", lit(0L))))
      // prune line = lower-median of the NONZERO multi-char usages: a
      // zero-usage median would disarm the prune entirely (most seeds
      // are never chosen by Viterbi — measured 24/48 at sf0.01), while
      // this line kills every unused piece AND the weak half of the
      // used ones — the SentencePiece shape
      val med = pu.filter(length($"piece") > 1 && $"u" > 0L)
        .agg(sort_array(collect_list($"u")).as("xs"))
        .select(coalesce(when(size($"xs") > 0,
          element_at($"xs", expr("(size(xs) + 1) div 2").cast("int"))),
          lit(0L)).as("m"))
        .head.getLong(0) // the round's ≤1-row driver gate
      meds += med
      val sur = pu.filter(length($"piece") === 1 ||
        ($"u" > 0L && $"u" >= med))
      val ut = sur.agg(sum($"u").as("ut"))
      pieces = Pinned.pin(sur.crossJoin(broadcast(ut))
        .select($"piece",
          (bits($"ut") - when($"u" > 0, bits($"u")).otherwise(lit(0L)))
            .as("cost"), $"u"))
    }
    val medv = meds.result()
    val np = pieces.agg(count(lit(1)).as("n_pieces"),
      sum($"u").as("total_usage"))
    pieces.crossJoin(broadcast(np))
      .select($"piece", length($"piece").cast("long").as("piece_len"),
        $"u".as("usage"), $"cost".as("cost_bits"),
        $"n_pieces", $"total_usage", lit(UlmRounds.toLong).as("n_rounds"),
        lit(medv(0)).as("med_r1"), lit(medv(1)).as("med_r2"))
      .orderBy($"piece")
  }

  /** Hard-negative mining for contrastive training — for each probe
    * vector, the top-2 neighbors inside a similarity BAND [0.15, 0.45):
    * related enough to be informative, far enough to not be a near-dup
    * (the q44 dedup band starts where this one ends). Same scale shape
    * as q45: probes broadcast, the corpus never shuffles, the band
    * filter runs before the rank window so the window only sees
    * in-band candidates. The FP band compare is deterministic because
    * both engines compute the identical cosine op tree (q45's
    * contract). */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" % 50 === 0).select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("vid"), $"embedding".as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    broadcast(q).join(c, $"qid" =!= $"vid")
      .withColumn("cos", cosine(s)($"qe", $"ve"))
      .filter($"cos" >= lit(0.15) && $"cos" < lit(0.45))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"qid", $"rn", $"vid", $"cos")
      .orderBy($"qid", $"rn")
  }

  /** Fixed labeled-pool size for q193 — a BOUNDED panel (the first K
    * vectors by vec_id), not a fraction of the table. The r10 form had
    * the asymmetry backwards: it made the PROBES the bounded-looking
    * side via `vec_id % 20 = 0` — a fixed FRACTION, so the broadcast
    * side grew O(SF) and the brute-force candidate pass grew O(SF²)
    * (measured on the dims-scaled soak: 80× cost for 10× data — the
    * q288 seed-fraction shape in ANN clothing). The realistic asymmetry
    * is the reverse: the LABELED pool is what's small (labels are
    * expensive), the unlabeled pool is what scales. */
  private val LabelPanelK = 100

  /** Semi-supervised k-NN label voting — the auto-labeling operator a
    * training-data pipeline runs when a small labeled pool must annotate
    * a large unlabeled one: the first [[LabelPanelK]] vectors play the
    * labeled pool, EVERY other vector is an unlabeled probe; each probe
    * takes its 5 nearest labeled neighbors by cosine and adopts the
    * majority label (ties → smallest label — deterministic, like every
    * tie in this suite). The probe's own held-out label rides along, so
    * the output doubles as a leave-out accuracy census. Scale shape:
    * the BOUNDED panel collapses to one array row and broadcasts; each
    * probe scores it with higher-order functions (the per-pair cosine is
    * the exact q45 op tree), sorts the ≤K scored structs in-row, and
    * votes over the top-5 slice — a SCAN-ONLY plan: zero shuffle, zero
    * window, work and output both O(|probes|·K) = linear in the corpus
    * at any SF (dims-scaled soak in docs/PLANS.md). The r10 form's
    * per-probe rank window and O(SF) broadcast are gone — this is the
    * same panel-bounding fix as the q288/q290 seed panel. */
  def knnLabelVote(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    // The labeled pool is the first K vectors BY ORDER, not by the
    // key-range predicate `vec_id < K` — that shape is the q288
    // seed-fraction trap in miniature: with sparse or offset vec_ids a
    // range screen silently shrinks (an empty panel would make the
    // element_at below error under ANSI), while orderBy(..).limit(K)
    // is a true bounded panel on ANY key population (LIMIT-based
    // oracle CTE matches it exactly).
    val panel = e.orderBy($"vec_id".asc).limit(LabelPanelK)
      .select(struct($"vec_id".as("vid"), $"label",
        $"embedding".as("ve")).as("p"))
      .agg(sort_array(collect_list($"p")).as("panel"))
    // Probes = everything OUTSIDE the panel, decided against the same
    // broadcast panel row the scorer consumes (no second join, no
    // key-range assumption): one `exists` over the ≤K-element array.
    val probes = e
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        $"label".as("true_label"))
    val byCosDescVidAsc = (l: Column, r: Column) =>
      when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1)
        .when(l.getField("vid") < r.getField("vid"), -1)
        .when(l.getField("vid") > r.getField("vid"), 1)
        .otherwise(0)
    val byVotesDescLabelAsc = (l: Column, r: Column) =>
      when(l.getField("votes") > r.getField("votes"), -1)
        .when(l.getField("votes") < r.getField("votes"), 1)
        .when(l.getField("label") < r.getField("label"), -1)
        .when(l.getField("label") > r.getField("label"), 1)
        .otherwise(0)
    probes.crossJoin(broadcast(panel))
      .filter(!exists($"panel", p => p.getField("vid") === $"qid"))
      .withColumn("top5", slice(array_sort(
        transform($"panel", p => struct(
          cosine(s)($"qe", p.getField("ve")).as("cos"),
          p.getField("vid").as("vid"),
          p.getField("label").as("label"))),
        byCosDescVidAsc), 1, 5))
      .withColumn("labels", transform($"top5", x => x.getField("label")))
      .withColumn("win", element_at(array_sort(
        transform(array_distinct($"labels"), lb => struct(
          size(filter($"labels", x => x === lb)).as("votes"),
          lb.as("label"))),
        byVotesDescLabelAsc), 1))
      .select($"qid", $"win.label".as("pred_label"),
        $"win.votes".cast("long").as("votes"), $"true_label",
        ($"win.label" === $"true_label").as("correct"))
      .orderBy($"qid")
  }

  /** Gini–Simpson diversity census per source (Simpson 1949, public
    * definition) — the LOG-FREE diversity measure beside q372's
    * association census: Shannon entropy needs per-cell log terms whose
    * libm rounding differs across engines, while Simpson's
    * 1 − Σp² = (N² − Σn²)/N² and the inverse-Simpson "effective number
    * of languages" N²/Σn² are EXACT RATIONALS over the (source, lang)
    * census — one divide each, the whole panel hash-exact. The pooled
    * global diversity rides every row (mixture designers read the gap
    * between per-source and pooled diversity as the stratification
    * signal). Envelope: N² in decimal(38,0); the big casts route
    * through VARCHAR on the oracle side (the r18 HUGEINT-rounding
    * lesson). Scale: one grouped count → (source × lang)-bounded
    * census; everything after is census-sized. */
  def simpsonDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val cells = Pinned.pin(Tables.documents(s, dir)
      .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))) // read per-source + pooled
    val per = cells.groupBy($"source")
      .agg(sum($"n").as("n_docs"), count(lit(1)).as("n_langs"),
        sum($"n".cast(d38) * $"n").as("c"))
      .select($"source", $"n_docs", $"n_langs",
        (($"n_docs".cast(d38) * $"n_docs" - $"c").cast("double") /
          ($"n_docs".cast(d38) * $"n_docs").cast("double")).as("simpson"),
        when($"c" > 0,
          ($"n_docs".cast(d38) * $"n_docs").cast("double") /
            $"c".cast("double")).as("effective_langs"))
    val glob = cells.groupBy($"lang").agg(sum($"n").as("gn"))
      .agg(sum($"gn").as("gn_tot"), sum($"gn".cast(d38) * $"gn").as("gc"))
      .select((($"gn_tot".cast(d38) * $"gn_tot" - $"gc").cast("double") /
        ($"gn_tot".cast(d38) * $"gn_tot").cast("double"))
        .as("simpson_global"))
    per.crossJoin(broadcast(glob)).orderBy($"source")
  }

  /** k-occurrence hubness census (Radovanović et al. 2010, public
    * description) over the q193 labeled panel — the ANN-DEGRADATION
    * diagnostic the retrieval family (q45–q57, q352, q362) assumes
    * away: in high dimensions a few "hub" points appear in
    * disproportionately many k-NN lists, silently skewing label votes
    * (q193), dedup pivots (q110), and retrieval panels. N₅(p) counts
    * how often panel member p lands in a probe's top-5 (the exact q193
    * scoring — same panel, same cosine tree, same tie rule); the
    * census emits every member's k-occurrence plus the distribution's
    * EXACT-moment skewness (the hubness score): with n-scaled centered
    * terms c = n·N₅ − ΣN₅ (exact longs), g₁ = √n·Σc³/(Σc²)^1.5 — both
    * Σ fold in decimal(38,0), surfaced as digit strings, the skew as
    * one fixed IEEE tree (oracle routes the big casts through VARCHAR,
    * the r18 HUGEINT-rounding lesson). NULL on a zero-variance
    * distribution. Scale: the q193 scan-only shape (bounded broadcast
    * panel, zero shuffle before the ≤K-key census); moments are
    * K-row folds. */
  def knnHubness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val e = Tables.embeddings(s, dir)
    // ONE TakeOrdered pass derives the K-row panel; it feeds both the
    // broadcast struct and the occurrence spine below (r18 verdict:
    // the twin orderBy/limit cost a second full scan at 100 TB)
    val panelRows = Pinned.pin(e.orderBy($"vec_id".asc).limit(LabelPanelK))
    val panel = panelRows
      .select(struct($"vec_id".as("vid"), $"embedding".as("ve")).as("p"))
      .agg(sort_array(collect_list($"p")).as("panel"))
    val byCosDescVidAsc = (l: Column, r: Column) =>
      when(l.getField("cos") > r.getField("cos"), -1)
        .when(l.getField("cos") < r.getField("cos"), 1)
        .when(l.getField("vid") < r.getField("vid"), -1)
        .when(l.getField("vid") > r.getField("vid"), 1)
        .otherwise(0)
    val occs = e.select($"vec_id".as("qid"), $"embedding".as("qe"))
      .crossJoin(broadcast(panel))
      .filter(!exists($"panel", p => p.getField("vid") === $"qid"))
      .select(explode(slice(array_sort(
        transform($"panel", p => struct(
          cosine(s)($"qe", p.getField("ve")).as("cos"),
          p.getField("vid").as("vid"))),
        byCosDescVidAsc), 1, 5)).as("t"))
      .groupBy($"t.vid".as("vid")).agg(count(lit(1)).as("occ"))
    val full = Pinned.pin(panelRows
      .select($"vec_id".as("vid"))
      .join(occs, Seq("vid"), "left")
      .select($"vid", coalesce($"occ", lit(0L)).as("n_occ"))) // read by moments + output rows
    val mom = full.agg(count(lit(1)).as("n_panel"), sum($"n_occ").as("s"))
    val g = full.crossJoin(broadcast(mom))
      .select($"n_panel", $"s", ($"n_panel" * $"n_occ" - $"s").as("c"),
        $"n_occ")
      .agg(max($"n_panel").as("n_panel"), max($"s").as("s"),
        sum($"c".cast(d38) * $"c").as("c2"),
        sum($"c".cast(d38) * $"c" * $"c").as("c3"),
        max($"n_occ").as("max_occ"),
        sum(when($"n_occ" === 0L, 1L).otherwise(0L)).as("n_never"))
      .select($"n_panel", expr("s div 5").as("n_probes"),
        $"max_occ", $"n_never",
        $"c2".cast("string").as("c2_num"),
        $"c3".cast("string").as("c3_num"),
        when($"c2" > 0,
          (sqrt($"n_panel".cast("double")) * $"c3".cast("double")) /
            (sqrt($"c2".cast("double")) * sqrt($"c2".cast("double")) *
              sqrt($"c2".cast("double")))).as("hubness_skew"))
    full.crossJoin(broadcast(g)).orderBy($"vid")
  }

  /** Feature hashing (the hashing trick / HashingTF shape) — text to a
    * FIXED 64-dim integer vector with signed buckets: bucket = token
    * digest mod 64, sign = digest bit 6, cell = signed count. The
    * featurizer behind linear baselines and dedup embeddings at corpus
    * scale: vocabulary-free (no fit pass, no dictionary to ship), output
    * width fixed at write time, pure integer arithmetic so the vector is
    * bit-identical on any engine. The dense 64-vector is built as ONE
    * keyed aggregate of 64 conditional sums straight off the exploded
    * tokens — a single doc_id shuffle whose partial aggregation already
    * carries the full 64-wide row, entirely inside whole-stage codegen.
    * The round-15 form (explode→(doc,bucket) agg→collect_list→map→
    * 64 element_at probes) paid a second shuffle, a non-codegen
    * ObjectHashAggregate, and O(64·|map|) linear map probes per doc —
    * measured 2.6 s vs 0.8 s for this form on the sf0.1 corpus; the
    * fixed bucket width is exactly what makes the wide-agg form legal
    * (64 agg functions is a compile-time constant, never data-driven).
    * The declared output joins the vector to a comma string — the
    * driver's hasher cannot sort array cells (the q149/q188 rule);
    * consumers use the array form. */
  def featureHashing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .withColumn("th", conv(substring(md5($"tok"), 1, 10), 16, 10).cast("long"))
      .withColumn("bucket", ($"th" % 64L).cast("int"))
      .withColumn("sgn",
        when($"th".bitwiseAND(lit(64L)) === 0L, 1L).otherwise(-1L))
    val sums = (0 until 64).map(i =>
      sum(when($"bucket" === i, $"sgn").otherwise(0L)).as(s"b$i"))
    tok.groupBy($"doc_id")
      .agg(sums.head, sums.tail: _*)
      .select($"doc_id", array_join(
        array((0 until 64).map(i => col(s"b$i").cast("string")): _*), ",")
        .as("fvec"))
      .orderBy($"doc_id")
  }

  /** DSIR-shaped importance scoring — Data Selection via Importance
    * Resampling (Xie et al. 2023, public arXiv description): score every
    * document by how much more likely its tokens are under a TARGET
    * hashed-unigram LM than under the RAW-corpus LM, the selection
    * operator pipelines run to up-weight data that "looks like" a
    * high-quality domain. Target here = the `lang = 'en'` slice; features
    * = the q180 hashed buckets (64 md5 buckets — hashing caps the
    * feature space at any vocabulary, the whole point of the method at
    * 100 TB). Per-bucket importance weight, DYADICALLY quantized like
    * every "log" in this suite (q131's bits() = ⌊log₂⌋+1 — integer, so
    * the per-doc sum is order-independent and hash-portable):
    * w_b = [bits(cnt_t(b)+1) − bits(T+1)] − [bits(cnt_r(b)+1) − bits(R+1)]
    * (+1-smoothed; the normalizers keep scores centered so `selected`
    * is score > 0 — more target-like than corpus-average). Scale: the
    * corpus pays two token passes (bucket census, then scoring); the
    * weight table is ≤64 rows broadcast back map-side (the q96/q131
    * contract), the only other shuffle is the (doc_id, int) census; the
    * doc-table LEFT join is defensive completeness (this tokenizer maps
    * "" to [""], so no doc is truly token-less — but a stricter
    * tokenizer swapped in must not silently drop docs from the census). */
  def importanceResampling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bits(c: Column): Column = length(bin(c)).cast("long")
    val toks = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        explode(TextOps.tokens($"text")).as("tok"))
      .withColumn("bucket",
        (conv(substring(md5($"tok"), 1, 10), 16, 10).cast("long") % 64L)
          .cast("int"))
    val buckets = toks.groupBy($"bucket").agg(
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("cnt_t"),
      count(lit(1)).as("cnt_r"))
    val tot = buckets.agg(sum($"cnt_t").as("tt"), sum($"cnt_r").as("rr"))
    val weights = buckets.crossJoin(broadcast(tot))
      .select($"bucket",
        ((bits($"cnt_t" + 1L) - bits($"tt" + 1L))
          - (bits($"cnt_r" + 1L) - bits($"rr" + 1L))).as("w"))
    val scores = toks
      .join(broadcast(weights), "bucket")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"), sum($"w").as("score_bits"))
    Tables.documents(s, dir).select($"doc_id")
      .join(scores, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_toks", lit(0L)).as("n_toks"),
        coalesce($"score_bits", lit(0L)).as("score_bits"))
      .withColumn("selected", $"score_bits" > 0L)
      .orderBy($"doc_id")
  }

  /** Dense global ID assignment WITHOUT a single-partition window — the
    * vocab-numbering step every tokenizer/embedding-table build needs
    * (ids must be 1..N dense, ordered by frequency): the naive
    * `row_number() OVER (ORDER BY ...)` collapses the dataset onto one
    * reducer at 100 TB, so the declared implementation is the scalable
    * two-pass form — range-repartition on the total order, PIN the
    * partitioned result with Pinned.pin (RangePartitioner samples
    * boundaries per job, so without pinning the offsets job and the
    * ranks job could see DIFFERENT cuts and emit non-dense ids), rank
    * WITHIN each partition (parallel windows), and add per-partition
    * offsets computed in-plan as a running sum over the #partitions-row
    * pid-count table (a single-partition window over ~8 rows — no
    * driver collect anywhere). The output is INVARIANT to wherever the
    * sampled cuts land: within-partition rank + preceding-partition
    * counts = global rank. Oracle = the single-window definition. */
  def denseIdAssignment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("freq"))
    // Lazy pin: still a SINGLE materialization of the sampled range cuts
    // at first action (offsets + ranks then read the same cuts), but
    // plan-only consumers (ExplainAudit, tests that never run the query)
    // no longer pay an eager full-pipeline execution.
    val parts = Pinned.pin(vocab
      .repartitionByRange(8, $"freq".desc, $"tok".asc)
      .sortWithinPartitions($"freq".desc, $"tok".asc)
      .withColumn("pid", spark_partition_id()))
    // offset(pid) = rows in all preceding partitions (empty-input safe):
    // running sum over the pid-count table (#partitions rows, so the
    // single-partition window is trivially cheap at any corpus scale).
    val offDf = parts.groupBy($"pid").agg(count(lit(1)).as("n"))
      .withColumn("off",
        coalesce(sum($"n").over(
          Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select($"pid", $"off")
    val wPart = Window.partitionBy($"pid").orderBy($"freq".desc, $"tok".asc)
    parts
      .withColumn("rn", row_number().over(wPart).cast("long"))
      .join(broadcast(offDf), "pid")
      .select($"tok", $"freq", ($"rn" + $"off").as("dense_id"))
      .orderBy($"dense_id")
  }

  /** Prefix-filtered set-similarity join (the PPJoin family) — the THIRD
    * candidate-generation regime next to q41's MinHash banding
    * (probabilistic) and q43's df-capped inverted index (heuristic): an
    * EXACT filter. Set elements are distinct 3-token SHINGLE DIGESTS
    * (q43/q108's representation), not raw tokens — a whitespace-token
    * vocabulary saturates on any fixed-template corpus (the `documents`
    * fixture has 31 distinct tokens across 5 000 docs, so every token is
    * hot and a token-level prefix filter degenerates to the all-pairs
    * join it exists to avoid), while the shingle space grows with the
    * corpus and the rarest-first prefix actually discriminates. Order
    * every doc's shingle set by ascending global document frequency
    * (rarest first, ties by digest), and index only each doc's first
    * L = n − ⌈t·n⌉ + 1 shingles: two sets with Jaccard ≥ t MUST share at
    * least one element inside those prefixes (pigeonhole over the
    * ⌈t·n⌉-sized overlap a qualifying pair needs), so joining on prefix
    * elements alone provably loses no qualifying pair — no df cap, no
    * recall floor to argue. The candidate join carries PPJoin's LENGTH
    * filter in the join condition itself (jac ≥ ½ forces
    * min(n1,n2) ≥ max(n1,n2)/2, since |A∩B| ≤ min and
    * |A∪B| ≥ max): wildly different-sized docs never materialize a
    * candidate row at all — and PPJoin's POSITIONAL filter (Xiao et al.
    * 2008): the prefix ranks bound the achievable overlap at
    * 1 + min(n1−rk1, n2−rk2), which must reach ⌈(n1+n2)/3⌉, the t = ½
    * overlap equivalent; both filters are exact, so no recall floor to
    * argue. ⌈t·n⌉ for t = 0.5 is computed as
    * (n+1) div 2 — exact integer, no float ceil. Verification joins
    * candidates back to the full shingle sets for exact intersection
    * counts; jac is two exact longs into one IEEE divide. Shuffles: one
    * explicit sh-repartition (df window; reused by BOTH prefix self-join
    * sides via ReuseExchange), per-doc rank window, verify equi-joins —
    * all key-partitioned. */
  def setSimPrefixJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // explode_outer (not explode) for the same reason as q43: a plain
    // explode lets InferFiltersFromGenerate push a size()>0 guard below
    // the projection, re-running the md5 digest pipeline per element.
    // The null rows it emits for <3-token docs never join (every
    // downstream edge is an equi-join on sh or on a doc that has rows in
    // `pre`), so no explicit filter is needed.
    // read by pre + verify ×2: pinning costs nothing here and saves two
    // full corpus re-digests at scale (Bench/Verify release the blocks
    // after each query's action)
    val dt = Pinned.pin(Tables.documents(s, dir)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .select($"doc_id",
        explode_outer(array_distinct(TextOps.shingleHashes3($"th"))).as("sh")))
    // df via a window over ONE explicit sh-repartition instead of a
    // groupBy+join: the q43 lesson — both candidate self-join sides then
    // hang off the same exchange (ReuseExchange), and the digest scan
    // runs once.
    val wSh = Window.partitionBy($"sh")
    val wDoc = Window.partitionBy($"doc_id").orderBy($"df".asc, $"sh".asc)
    val nDoc = Window.partitionBy($"doc_id")
    val pre = dt.repartition($"sh")
      .withColumn("df", count(lit(1)).over(wSh))
      .withColumn("n", count(lit(1)).over(nDoc))
      .withColumn("rk", row_number().over(wDoc))
      .filter($"rk" <= expr("n - ((n + 1) div 2) + 1"))
      .repartition($"sh") // one exchange feeding both self-join sides
    // PPJoin's POSITIONAL filter rides the same join (round-16): a pair
    // sharing prefix element e at ranks (rk1, rk2) can overlap at most
    // 1 + min(n1 − rk1, n2 − rk2), and jac ≥ ½ needs overlap
    // ≥ ⌈(n1+n2)/3⌉ = (n1+n2+2) div 3 exactly. EXACT at pair level: a
    // qualifying pair's FIRST shared element (canonical df-then-digest
    // order) sits inside both prefixes and everything before it on
    // either side is disjoint, so ubound ≥ true overlap ≥ α and that
    // row always survives — later shared-element rows may drop, but
    // distinct() needs only one. Measured at sf0.1: candidate pairs
    // 310k → 125k before the verify joins ever see them.
    val cand = pre.select($"doc_id".as("doc1"), $"n".as("n1"),
        $"rk".as("rk1"), $"sh")
      .join(pre.select($"doc_id".as("doc2"), $"n".as("n2"),
          $"rk".as("rk2"), $"sh".as("sh2")),
        $"sh" === $"sh2" && $"doc1" < $"doc2" &&
          $"n1" <= $"n2" * 2 && $"n2" <= $"n1" * 2 && // t=0.5 length filter
          lit(1L) + least($"n1" - $"rk1", $"n2" - $"rk2") >=
            expr("(n1 + n2 + 2) div 3")) // positional filter
      .select($"doc1", $"doc2", $"n1", $"n2").distinct()
    val ord = Seq($"jac".desc, $"doc1".asc, $"doc2".asc)
    val dtB = dt.select($"doc_id".as("doc2x"), $"sh".as("sh2"))
    cand
      .join(dt.select($"doc_id".as("doc1"), $"sh"), "doc1")
      .join(dtB, $"doc2" === $"doc2x" && $"sh" === $"sh2")
      .groupBy($"doc1", $"doc2", $"n1", $"n2")
      .agg(count(lit(1)).as("common"))
      .withColumn("jac", ratio($"common", $"n1" + $"n2" - $"common"))
      .filter($"common" * 2 >= $"n1" + $"n2" - $"common") // exact jac >= 0.5
      .select($"doc1", $"doc2", $"common", $"jac")
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Keyword-in-context (KWIC / concordance) — the corpus-linguistics view
    * of one anchor term: for every occurrence of "spark", count its
    * (previous, next) neighbor pair, with `^`/`$` sentinels at document
    * edges. Mechanics: split once, posexplode, filter to the anchor, index
    * the SAME array for the neighbors (no self-join — the context comes
    * from the row's own array), then a vocab-bounded (prev, next) rollup.
    * Scale: the explode is linear in tokens and the only shuffle is the
    * final ≤|vocab|² partial-agg; the anchor filter drops ~97% of exploded
    * rows before anything wide happens. */
  def kwicContext(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(split($"text", " ").as("toks"))
      .select($"toks", posexplode($"toks").as(Seq("pos0", "tok")))
      .filter($"tok" === "spark")
      .select(
        when($"pos0" === 0, lit("^"))
          .otherwise(element_at($"toks", $"pos0")).as("prev_tok"),
        when($"pos0" === size($"toks") - 1, lit("$"))
          .otherwise(element_at($"toks", $"pos0" + 2)).as("next_tok"))
      .groupBy($"prev_tok", $"next_tok")
      .agg(count(lit(1)).as("n_occ"))
      .orderBy($"n_occ".desc, $"prev_tok".asc, $"next_tok".asc)
      .limit(20)
  }

  /** Bigram language-model COVERAGE scoring — the held-out-likelihood
    * quality screen without the log-probability float trap: a bigram LM's
    * per-token log-prob sum is order-dependent FP accumulation (and libm
    * log isn't bit-portable), but the COVERAGE statistic — what fraction
    * of a held-out doc's distinct bigrams the training corpus has seen at
    * least twice — is two exact integers and one IEEE divide, and ranks
    * junk the same way (OOV-bigram-heavy docs are the perplexity
    * outliers). Train/test split is the deterministic doc_id parity;
    * the model is the df ≥ 2 distinct-bigram set (df counted doc-level).
    * Scale: model and test bigrams join KEYED on the digest — the model
    * grows with the corpus, never broadcast; output is the 25
    * worst-covered docs (the quality-quarantine pick list). */
  def bigramCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // explode_outer + post-agg filters, NEVER a pre-explode filter on the
    // shingle array: the q43 lesson — a plain explode (or any predicate
    // on size(bsh)) lets InferFiltersFromGenerate push the digest
    // pipeline below the projection, re-running md5 per element — the
    // first cut of this query did exactly that and went 51 s at sf1.
    // n_bi is recovered as count(sh) per doc AFTER the explode (count
    // skips the null row an empty array emits), so nothing references
    // the array outside the Generate.
    def exploded(parity: Int) = Tables.documents(s, dir)
      .filter($"doc_id" % 2 === parity)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .select($"doc_id",
        explode_outer(array_distinct(TextOps.shingleHashes2($"th"))).as("sh"))
    val model = exploded(0)
      .groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" >= 2 && $"sh".isNotNull)
      .select($"sh")
    exploded(1)
      .join(model.withColumn("hit", lit(1L)), Seq("sh"), "left")
      .groupBy($"doc_id")
      .agg(count($"sh").as("n_bi"),
        sum(coalesce($"hit", lit(0L))).as("n_cov"))
      .filter($"n_bi" > 0)
      .select($"doc_id", $"n_bi", $"n_cov",
        ratio($"n_cov", $"n_bi").as("coverage"))
      .orderBy($"coverage".asc, $"doc_id".asc)
      .limit(25)
  }

  /** Directed near-CONTAINMENT detection — the dedup case Jaccard misses:
    * a short doc quoted wholesale inside a longer one scores common/n1
    * ≈ 1 (containment) while common/(n1+n2−common) (Jaccard) can be
    * arbitrarily low. Same shingle-digest inverted index as q43 (df cap
    * drops boilerplate shingles; heuristic recall, documented there), but
    * the pair relation is DIRECTED (contained → container) and scored
    * against the contained side's set size only. Scale contract is
    * q43's: one exploded-digest shuffle reused by both join sides, the
    * df cap bounds per-shingle fan-out, and the ≥ 80 % screen is exact
    * integer (5·common ≥ 4·n1). */
  def containmentDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ex = Tables.documents(s, dir)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("dshin", array_distinct(TextOps.shingleHashes3($"th")))
      .select($"doc_id", size($"dshin").cast("long").as("nsh"),
        explode_outer($"dshin").as("sh"))
    val exRep = ex.repartition($"sh")
    val wdf = Window.partitionBy($"sh")
    val ok = exRep
      .withColumn("df", count(lit(1)).over(wdf))
      .filter($"df" <= JaccardDfCap)
      .drop("df")
    val ord = Seq($"containment".desc, $"doc1".asc, $"doc2".asc)
    ok.select($"doc_id".as("doc1"), $"nsh".as("n1"), $"sh")
      .join(ok.select($"doc_id".as("doc2"), $"nsh".as("n2"),
        $"sh".as("sh2")),
        $"sh" === $"sh2" && $"doc1" =!= $"doc2" && $"n1" <= $"n2")
      .groupBy($"doc1", $"doc2", $"n1", $"n2")
      .agg(count(lit(1)).as("common"))
      .filter($"common" * 5 >= $"n1" * 4) // containment >= 0.8, exact
      .select($"doc1", $"doc2", $"n1", $"n2", $"common",
        ratio($"common", $"n1").as("containment"))
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Export shard count for [[shardManifest]] — fixed (like every panel/
    * bucket constant in this suite), so the manifest is 16 rows at ANY
    * corpus size; a real export would set it to corpus_tokens/shard_budget
    * but the plan shape is identical. */
  val NShards = 16L

  /** Training-shard export manifest — the artifact a training run actually
    * consumes, composing three ops this suite already certifies
    * separately: q241's deterministic shuffle (placement + order by a
    * cryptographic digest of the stable id — no RNG, invariant to input
    * partitioning), q98's token-budget packing (each shard's docs packed
    * into [[PackBudget]]-token sequences in shard order), and q114's
    * order-independent checksum (per-shard xor + sum-mod-2⁶¹ of row
    * digests — verifiable after any relayout without sorting). One row
    * per shard: cardinality, token total, packed-sequence count, both
    * checksums, and the first member in shard order (the resume cursor).
    *
    * Scale: shard assignment and row digests are map-side projections;
    * the within-shard order/cumsum rides TwoPass's grouped two-pass
    * (range-repartition on (shard, hkey, doc_id) — packing parallelizes
    * WITHIN a shard, never |shards| sort tasks); the manifest fold is a
    * [[NShards]]-row partial agg. Only (shard, digests, n_tok) quads
    * shuffle — never text. Invariance contract (spec-enforced): the
    * manifest is bit-identical under any repartitioning/reordering of the
    * input, because placement, order, packing, and checksums all derive
    * from row CONTENT alone. */
  def shardManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canonical = concat_ws("\u0001",
      $"doc_id".cast("string"), $"lang", $"source",
      $"n_chars".cast("string"), $"text")
    val rows = Tables.documents(s, dir)
      .select($"doc_id",
        substring(md5(concat(lit("shard:"), $"doc_id".cast("string"))), 1, 10)
          .as("hhex"),
        size(TextOps.tokens($"text")).cast("long").as("n_tok"),
        conv(substring(md5(canonical), 1, 10), 16, 10)
          .cast("long").as("digest"))
      .withColumn("hkey", conv($"hhex", 16, 10).cast("long"))
      .withColumn("shard_id", ($"hkey" % NShards).cast("int"))
    TwoPass.groupedRankAndRunningSum(rows, Seq("shard_id"),
        "rn", "cnt", "cum_tok", $"n_tok", $"hkey".asc, $"doc_id".asc)
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("sum_tok"),
        (max(expr(s"(cum_tok - n_tok) div $PackBudget")) + 1L).as("n_bins"),
        expr("bit_xor(digest)").as("xor_check"),
        (sum($"digest".cast(DecimalType(38, 0))) % lit(ChecksumMod))
          .cast("long").as("sum_check"),
        // doc_id zero-padded so the string min agrees with the numeric
        // (hkey, doc_id) shard order even on a 40-bit hkey collision —
        // without the pad, doc 10 sorts before doc 2 and the resume
        // cursor names the wrong first member.
        min(concat($"hhex", lit(":"), lpad($"doc_id".cast("string"), 12, "0")))
          .as("first_member"))
      .orderBy($"shard_id")
  }

  /** Hashed-bigram bucket count for [[qualityFilterInference]] (fastText's
    * hashing-trick bucket table, scaled to the fixture: buckets must stay
    * within ~an order of magnitude of the distinct-bigram count or
    * collisions average the signal away — fastText ships 2M for real
    * vocabularies; measured here: 128 buckets erase the en/¬en
    * separation, 1024 keep it at every fixture SF). */
  val QfBuckets = 1024L

  /** Learned quality-filter INFERENCE, fastText-shape — the CCNet/
    * RedPajama production filter architecture (Wenzek et al. 2020;
    * Joulin et al. 2016 public descriptions): hashed-BIGRAM features, a
    * broadcast integer weight table, a linear score, a sign threshold.
    * q293 is the unigram importance-sampler and q131/q147 the LM/rule
    * scorers; this is the missing member — the trained-classifier shape,
    * with weights synthesized deterministically FROM fixture stats (one
    * counting pass: per-bucket dyadic log-odds of the `lang = 'en'`
    * reference slice vs the whole corpus, q293's bits() quantization, so
    * the oracle replays training and inference exactly — no shipped
    * floats, no libm).
    *
    * Selection is SELF-CALIBRATING (the dyadic quantization makes an
    * absolute zero threshold scale-unstable — measured: 0 % selected at
    * sf0.001, saturating at sf0.1): a doc is kept iff its per-bigram
    * score beats the CORPUS-AVERAGE per-bigram score, decided by exact
    * integer cross-multiplication `score·ΣNB > Σscore·nb` — "more
    * target-like than the average document", stable at every SF.
    * Envelope: |score| ≤ |w|max·nb with |w|max ≈ 4 observed (≤ 40 hard),
    * so both cross-products stay < 2⁶³ for corpora to ~2⁴⁴ bigrams with
    * docs to 2¹³ bigrams — far past 100 TB-class volume.
    *
    * Scale (the architecture's whole point): training is ONE pass whose
    * shuffle is ≤[[QfBuckets]] partial-agg rows per task; the weight
    * table is ≤1024 (bucket, BIGINT) rows broadcast as ONE map row; and
    * INFERENCE is scan-only — the per-doc score is `aggregate()` over
    * the bigram-digest array against the broadcast map (zero per-doc
    * shuffle, no explode), so scoring 100 TB is embarrassingly parallel.
    * The calibration totals are a second 1-row broadcast; the only
    * post-scan shuffle is the |langs|-row census. */
  def qualityFilterInference(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    qfPerDocScores(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"score_bits" * $"tnb" > $"ts" * $"n_bigrams", 1L)
          .otherwise(0L)).as("n_selected"),
        sum($"score_bits").as("sum_score_bits"))
      .withColumn("sel_rate", ratio($"n_selected", $"n_docs"))
      .orderBy($"lang")
  }

  /** Per-doc q325 learned-filter scores — (doc_id, lang, n_bigrams,
    * score_bits) with the riding calibration totals (ts, tnb); the keep
    * vote is the exact cross-multiply score_bits·tnb > ts·n_bigrams.
    * ONE chain shared by q325's census and the q396/q397 paired-vote
    * tests (the [[MarkerChain]] single-literal stance applied to the
    * filter itself). Scan-only per doc: zero-bigram docs ride with
    * nb = 0, score = 0 (vote = drop). */
  private def qfPerDocScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // th MUST be bound as a column, never composed inline into
    // shingleHashes2: the shingle lambda references its argument three
    // times, and an inline tokenHashes tree would be duplicated into the
    // lambda body and re-evaluated per ELEMENT — O(tokens²) md5, measured
    // 38 s vs 2 s on the 5 000-doc fixture. As a bound attribute the
    // multi-reference rule keeps the projection barrier (CollapseProject
    // only inlines single-use/cheap exprs) and the digest array
    // materializes once per row — the q43 lesson, scoring-pass edition.
    qfPerDocScoresFrom(Tables.documents(s, dir)
      .withColumn("th", TextOps.tokenHashes(TextOps.tokens($"text")))
      .withColumn("bgs", TextOps.shingleHashes2($"th"))
      .select($"doc_id", $"lang", $"bgs"))
  }

  /** [[qfPerDocScores]] over a pre-digested base carrying (doc_id, lang,
    * bgs) — identical training and scoring expressions; the ensemble
    * queries pass the pinned [[ensembleDocBase]] so the bucket-training
    * pass and the scoring pass share one digest computation. */
  private def qfPerDocScoresFrom(base: DataFrame): DataFrame = {
    def bits(c: Column): Column = length(bin(c)).cast("long")
    // explode_outer + post-generate null filter, NEVER a plain explode:
    // a non-outer generator lets InferFiltersFromGenerate push
    // `size(bgs) > 0` into a scan-side Filter whose inlined digest
    // pipeline re-evaluates the token-hash array per lambda element —
    // the q43 O(tokens²) trap (measured: 58 s vs 2 s on this pass)
    val buckets = base
      .select(col("lang"), explode_outer(col("bgs")).as("h"))
      .filter(col("h").isNotNull)
      .groupBy((col("h") % QfBuckets).cast("int").as("bucket"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_pos"),
        count(lit(1)).as("cnt_all"))
    val tot = buckets.agg(sum(col("cnt_pos")).as("tp"),
      sum(col("cnt_all")).as("ta"))
    // weight table pivoted into a DENSE [[QfBuckets]]-cell array (q180's
    // trick): MapType element_at is a LINEAR scan per probe — measured
    // 94 s at sf1 with the map vs O(1) array indexing — and the dense
    // form is also exactly what a shipped fastText table is
    val wvec = buckets.crossJoin(broadcast(tot))
      .select(col("bucket"),
        ((bits(col("cnt_pos") + 1L) - bits(col("tp") + 1L))
          - (bits(col("cnt_all") + 1L) - bits(col("ta") + 1L))).as("w"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("bucket"), col("w"))))).as("m"))
      .select(transform(sequence(lit(0), lit(QfBuckets.toInt - 1)),
        i => coalesce(element_at(col("m"), i.cast("int")), lit(0L))).as("wa"))
    val scored = Pinned.pin(base
      .crossJoin(broadcast(wvec))
      .select(col("doc_id"), col("lang"),
        size(col("bgs")).cast("long").as("n_bigrams"),
        aggregate(col("bgs"), lit(0L),
          (acc, h) => acc +
            element_at(col("wa"), (h % QfBuckets).cast("int") + 1))
          .as("score_bits"))) // read by the calib totals + census
    val calib = scored.agg(sum(col("score_bits")).as("ts"),
      sum(col("n_bigrams")).as("tnb"))
    scored.crossJoin(broadcast(calib))
  }

  /** Neighborhood size for [[bitextMarginMining]]'s margin normalizer
    * (the k of Artetxe-Schwenk's ratio margin). */
  val BitextK = 4

  /** Margin-based bitext mining — the parallel-pair mining operator
    * behind CCMatrix/WikiMatrix-class corpora (Artetxe & Schwenk 2019,
    * public description): candidate (en, de) document pairs are scored
    * not by raw cosine (which a hubness-prone embedding space inflates
    * uniformly) but by the RATIO MARGIN — best cosine over the mean of
    * the top-[[BitextK]] candidate cosines — so a pair is mined only
    * when its match stands OUT of its neighborhood, the property that
    * separates true translations from generic nearest neighbors.
    * Forward-margin form; candidates come from the q64 sign-LSH band
    * machinery (8-bit keys × 4 bands between the two language slices
    * only (16-bit keys block almost everything between slices this
    * small — 1 candidate at sf0.01; 8-bit buckets keep in-bucket
    * pairing linear while actually generating a neighborhood) — never a cross-language all-pairs), restricted to positive
    * cosines (the ratio is meaningless below 0).
    *
    * Portability: the margin is a DOUBLE, so its op tree is fixed on
    * both engines — the top-k cosines fold in RANK order (rank-sorted
    * struct array + aggregate() here, `list(... ORDER BY rn)` +
    * list_reduce in the oracle), one divide for the mean, one for the
    * margin; cosines themselves are the q44-proven bit-identical tree.
    * Scale: one banded-key exchange per side, in-bucket pairing only,
    * per-source top-k via a source-keyed window (WindowGroupLimit
    * prunes map-side), 20-row output. */
  def bitextMarginMining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Pinned.pin(Tables.embeddings(s, dir)
      .join(Tables.documents(s, dir).select($"doc_id", $"lang"),
        $"vec_id" === $"doc_id")
      .select($"vec_id", $"lang", $"embedding",
        explode_outer(VectorOps.signBandKeys($"embedding", 8, 4)).as("bk"))
      .select($"vec_id", $"lang", $"embedding",
        $"bk.band".as("band"), $"bk.key".as("key"))) // read by both candidate sides
    val src = emb.filter($"lang" === "en")
      .select($"vec_id".as("en_id"), $"band", $"key", $"embedding".as("se"))
    val tgt = emb.filter($"lang" === "de")
      .select($"vec_id".as("de_id"), $"band".as("b2"), $"key".as("k2"),
        $"embedding".as("te"))
    val cand = src.join(tgt, $"band" === $"b2" && $"key" === $"k2")
      .withColumn("pcos", cosine(s)($"se", $"te"))
      .filter($"pcos" > 0.0)
      .groupBy($"en_id", $"de_id") // multi-band collisions count once
      .agg(max($"pcos").as("cos"))
    val w = Window.partitionBy($"en_id").orderBy($"cos".desc, $"de_id".asc)
    val top = cand.withColumn("rn", row_number().over(w))
      .filter($"rn" <= BitextK)
      .groupBy($"en_id")
      .agg(sort_array(collect_list(struct($"rn", $"cos", $"de_id")))
        .as("tk"))
    val meanCos =
      aggregate(transform($"tk", t => t.getField("cos")), lit(0.0),
        (a, x) => a + x) / size($"tk").cast("double")
    val ord = Seq($"margin".desc, $"en_id".asc)
    top.select($"en_id",
        element_at($"tk", 1).getField("de_id").as("de_id"),
        element_at($"tk", 1).getField("cos").as("cos"),
        (element_at($"tk", 1).getField("cos") / meanCos).as("margin"))
      .withColumn("accepted", $"margin" >= lit(1.05))
      .orderBy(ord: _*).limit(20).orderBy(ord: _*)
  }

  /** Leakage-safe train/test split — the split-time complement of the
    * decontamination ops (q96/q316 scrub an EXTERNAL eval set; this
    * prevents the INTERNAL leak): a doc-level hash split (q82's scheme)
    * puts ~10 % of near-dup CLUSTERS on both sides of the boundary, so
    * the eval half measures memorization of the train half (the
    * Lee et al. 2022 failure mode). The fix is one indirection: split by
    * a digest of the doc's DEDUP-CLUSTER label (q76's min-label
    * fixpoint; singletons label themselves), so every cluster lands
    * wholly on one side BY CONSTRUCTION. The declared output is the
    * per-scheme audit: split sizes, multi-doc cluster count, and the
    * straddling-cluster count — positive for the naive scheme on any
    * corpus with near-dups, and ZERO for the cluster-aware scheme, a
    * structural invariant the oracle re-derives (its recursive-CTE
    * components + the same censuses — the straddle-0 row is recomputed,
    * not asserted).
    *
    * Scale: the label fixpoint is q76's machinery (banded LSH pairs,
    * iterations over the pinned pair list — never the corpus); the
    * split marks and censuses are one |docs|-row projection + two
    * ≤2-row aggs. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dig(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 10), 16, 10).cast("long")
    // read by both scheme censuses
    val full = Pinned.pin(Tables.documents(s, dir).select($"doc_id")
      .join(dedupLabels(s, dir), $"doc_id" === $"node", "left")
      .select($"doc_id", coalesce($"lab", $"doc_id").as("lab"))
      .withColumn("naive_test", dig(concat(lit("split:"), $"doc_id")) % 10 === 0)
      .withColumn("aware_test", dig(concat(lit("split:"), $"lab")) % 10 === 0))
    def scheme(name: String, testCol: Column): DataFrame = {
      val perLab = full.groupBy($"lab").agg(
        count(lit(1)).as("n"),
        sum(when(testCol, 1L).otherwise(0L)).as("nt"))
      perLab.agg(
        lit(name).as("scheme"),
        sum($"nt").as("n_test"),
        sum($"n" - $"nt").as("n_train"),
        sum(when($"n" >= 2, 1L).otherwise(0L)).as("n_clusters_multi"),
        sum(when($"n" >= 2 && $"nt" > 0L && $"nt" < $"n", 1L).otherwise(0L))
          .as("n_straddling"))
    }
    scheme("naive", $"naive_test")
      .unionByName(scheme("cluster_aware", $"aware_test"))
      .orderBy($"scheme")
  }

  /** q344 target dimensionality: 64-d fixture embeddings project to 16
    * — a 4× compression, enough for the distortion histogram to carry
    * real JL concentration (ratios cluster near 1 with visible spread;
    * k = d would make every ratio trivially tight). */
  val JlDims = 16

  /** Johnson–Lindenstrauss random sign projection + distortion census —
    * the dimensionality-REDUCTION operator in front of the ANN family
    * (q45/q46/q330 search what this shrinks): y = R·x with
    * R ∈ {±1}^(k×d), the database-friendly JL construction (Achlioptas
    * 2003 — sign matrices satisfy the JL lemma with no Gaussian
    * sampling), signs derived from md5(i, j) so the matrix is a pure
    * expression — no matrix table, no join, no driver state; the
    * projection is SCAN-ONLY map-side work over the whole corpus
    * (embarrassingly parallel at any SF, the q325 inference stance).
    *
    * The census side verifies the lemma on a FIXED 64-vector panel (the
    * q193 order-bounded panel stance — C(64,2) = 2016 pairs at any SF):
    * distortion ratio = ‖ya−yb‖² / (k·‖xa−xb‖²) per pair (a ±1 sign
    * matrix satisfies E‖Rx‖² = k‖x‖², so the JL-normalized estimate of
    * ‖x‖² is ‖Rx‖²/k and the ratio concentrates at 1), folded
    * into quarter-width histogram buckets with per-bucket min/max. All
    * float sums are left-to-right array folds over the embedding's
    * FIXED element order (the q327 ordered-fold contract — both engines
    * replay the identical IEEE sequence); the ratio is exact products
    * and ONE guarded divide. A corpus-wide row count and an exact
    * integer checksum (Σ floor(y₀·2²⁰)) ride every row, so the oracle
    * proves the FULL corpus was projected, not just the panel. */
  /** JL sign projection of the embedding corpus to k dims (shared by
    * q344's distortion census and q345's density clustering — q345's
    * 2-d matrix is rows j = 0, 1 of q344's, same md5 keys). The k×d
    * sign matrix is built ONCE (1 row, k·d md5 calls) and broadcast —
    * per-row md5 in the projection lambda measured 2.4 s at sf0.1/32c
    * (10⁶ md5 calls); with the hoisted matrix each row pays only k·d
    * multiply-adds and the scan stays ~0.3 s. PRECONDITION: every
    * embedding has the same dimension — the matrix is sized from one
    * arbitrary row and zip_with null-pads longer vectors, so a ragged
    * corpus would emit NULL projections here while the oracle projects
    * each row at its own length (EnvelopeAuditSpec measures the fixture
    * and proves the detector fires on a planted ragged corpus). */
  private[graft] def jlProjected(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    def sign(i: Column, j: Column): Column =
      when(conv(substring(md5(concat_ws(":", lit("jl"), i.cast("string"),
        j.cast("string"))), 1, 4), 16, 10).cast("long") % 2 === 0L,
        lit(1.0)).otherwise(lit(-1.0))
    val signs = Tables.embeddings(s, dir).limit(1)
      .select(transform(sequence(lit(0), lit(k - 1)), j =>
        transform(sequence(lit(0), size($"embedding") - 1), i =>
          sign(i, j))).as("sm"))
    Tables.embeddings(s, dir)
      .crossJoin(broadcast(signs))
      .select($"vec_id", $"embedding",
        transform(sequence(lit(0), lit(k - 1)), j =>
          aggregate(zip_with($"embedding", element_at($"sm", j + 1),
            (x, sg) => sg * x.cast("double")), lit(0.0), (a, v) => a + v))
          .as("p"))
  }

  def jlProjectionCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val proj = Pinned.pin(jlProjected(s, dir, JlDims)) // read by corpus stats + both pair sides
    val stats = proj.agg(count(lit(1)).as("n_vectors"),
      sum(floor(element_at($"p", 1) * lit(1048576.0)).cast("long"))
        .as("proj_checksum"))
    val panel = proj.filter($"vec_id" < 64)
    def sq(a: Column, b: Column): Column = {
      val d = a - b
      d * d
    }
    val pairs = panel.select($"vec_id".as("ia"), $"embedding".as("ea"),
        $"p".as("pa"))
      .join(broadcast(panel.select($"vec_id".as("ib"),
        $"embedding".as("eb"), $"p".as("pb"))), $"ia" < $"ib")
      .select(
        aggregate(zip_with($"ea", $"eb",
          (x, y) => sq(x.cast("double"), y.cast("double"))),
          lit(0.0), (a, v) => a + v).as("do2"),
        aggregate(zip_with($"pa", $"pb", (x, y) => sq(x, y)),
          lit(0.0), (a, v) => a + v).as("dp2"))
      .select(when($"do2" > 0.0,
        $"dp2" / ($"do2" * lit(JlDims.toDouble))).as("ratio"))
    pairs
      .groupBy(floor($"ratio" * 4.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min($"ratio").as("min_ratio"),
        max($"ratio").as("max_ratio"))
      .crossJoin(broadcast(stats))
      .orderBy($"bucket")
  }

  /** Cross-source quantile normalization (Bolstad et al. 2003's
    * microarray recipe, the batch-effect corrector) — map each source's
    * token-count distribution onto the POOLED corpus distribution by
    * rank, so per-source length biases (one crawler truncates, another
    * pads) stop masquerading as quality signal: normalized value of
    * (source, v) = the smallest pooled value whose pooled CDF reaches
    * the source's CDF at v. The CDF comparison is an exact integer
    * cross-multiply — cum_pool·n_src ≥ cum_src·n_pool — so the mapping
    * never hinges on a float (the q332 stance; envelope: the products
    * are ≤ N², inside long to N ≈ 3·10⁹ docs).
    *
    * Scale shape: one grouped count collapses the corpus to the
    * (source, value) census; prefix CDFs are source-keyed and global
    * windows over DOMAIN-bounded census rows (q144); the rank-matching
    * theta join is census × broadcast(census) — a few hundred rows at
    * any SF. */
  def quantileNormalization(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srcCen = Pinned.pin(Tables.documents(s, dir)
      .select($"source", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .groupBy($"source", $"ntok").agg(count(lit(1)).as("c"))) // read by source CDF AND pooled CDF
    val wSrc = Window.partitionBy($"source").orderBy($"ntok")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSrcAll = Window.partitionBy($"source")
    val src = srcCen
      .withColumn("cum_s", sum($"c").over(wSrc))
      .withColumn("n_s", sum($"c").over(wSrcAll))
    val wPool = Window.orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPoolAll = Window.orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pool = srcCen.groupBy($"ntok".as("v")).agg(sum($"c").as("pc"))
      .withColumn("cum_p", sum($"pc").over(wPool))
      .withColumn("n_p", sum($"pc").over(wPoolAll))
      .select($"v", $"cum_p", $"n_p")
    src.join(broadcast(pool), $"cum_p" * $"n_s" >= $"cum_s" * $"n_p")
      .groupBy($"source", $"ntok")
      .agg(max($"c").as("n_docs"), min($"v").as("norm_ntok"))
      .orderBy($"source", $"ntok")
  }

  /** q348 resample count. 32 keeps the estimate table trivially
    * broadcastable and the extremes meaningful (min/max of 32 ≈ the
    * 3rd/97th percentile band). */
  val BootB = 32

  /** Truncated Poisson(1) inverse-CDF thresholds over a 16-bit uniform:
    * floor(2¹⁶·P(X ≤ k)) for k = 0..7 (weight 8 beyond — tail mass
    * < 2⁻¹⁶ truncated, the q339 stance). Constants of the mechanism,
    * identical literals in both engines; e⁻¹ enters only here, at
    * authoring time — runtime stays libm-free. */
  val PoissonCdf16: Seq[Long] =
    Seq(24109L, 48218L, 60273L, 64291L, 65296L, 65497L, 65530L, 65535L)

  /** CASE-chain inverse CDF shared literally by both engines (q339's
    * [[graft.queries.Relational.dpNoiseCaseSql]] pattern). */
  def poissonCaseSql(u: String): String = {
    val cases = PoissonCdf16.zipWithIndex.map {
      case (b, k) => s"WHEN $u < $b THEN $k"
    }.mkString(" ")
    s"(CASE $cases ELSE 8 END)"
  }

  /** Poisson-bootstrap confidence band for the corpus mean token count
    * — uncertainty quantification for corpus statistics (the Poisson
    * bootstrap is THE distributed-bootstrap construction: each row
    * joins resample b with Poisson(1) multiplicity, no sampling pass,
    * no global coordination — Chamandy et al., Google 2012, public
    * description). Multiplicities are deterministic ([[PoissonCdf16]]
    * inverse CDF over md5-derived 16-bit uniforms — the q260/q339
    * seeded stance), so the band is oracle-checkable. Each doc derives
    * its [[BootB]] weights from FOUR md5 calls (8 × 16-bit slices per
    * digest — 4 calls/doc, not 32: the q344 md5-budget lesson);
    * resample estimates are one IEEE divide over exact integer
    * (Σw·ntok, Σw) pairs; the band is min / lower-median / max of the
    * 32-element sorted estimate array (exact rank selection). Scale:
    * one scan emits 32 weighted partials per doc, map-side-combined
    * into ≤B groups — no shuffle wider than 32 rows, SF-independent
    * state. */
  def bootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val caseFor = (u: String) => expr(poissonCaseSql(u))
    // u(doc, b) = 16-bit slice (b mod 8) of md5(doc, b div 8): the
    // slice offsets are LITERALS, so the whole 32-uniform vector is one
    // flatten(transform(...)) with 4 md5 calls; pos of the posexplode
    // IS the resample id b
    val us = flatten(transform(sequence(lit(0), lit(BootB / 8 - 1)),
      blk => {
        val h = md5(concat(lit("boot:"), $"doc_id".cast("string"),
          lit(":"), blk.cast("string")))
        array((0 until 8).map(sl =>
          conv(substring(h, sl * 4 + 1, 4), 16, 10).cast("long")): _*)
      }))
    val weighted = Tables.documents(s, dir)
      .select($"doc_id", size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .select($"ntok", posexplode(us))
      .select($"ntok", $"pos".as("b"), caseFor("col").cast("long").as("w"))
    // an all-zero-weight resample (possible only on degenerate tiny
    // corpora) has no estimate — dropped on BOTH sides, because the
    // engines disagree on NULL placement in sorted arrays
    val ests = weighted.groupBy($"b")
      .agg(sum($"w" * $"ntok").as("num"), sum($"w").as("den"))
      .filter($"den" > 0L)
      .select(ratio($"num", $"den").as("est"))
    val point = Tables.documents(s, dir)
      .select(size(TextOps.tokens($"text")).cast("long").as("ntok"))
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("st"))
      .select($"n_docs", ratio($"st", $"n_docs").as("est_point"))
    ests.agg(sort_array(collect_list($"est")).as("xs"))
      // empty-corpus contract: zero resamples → ZERO rows (the filter
      // must run before the element_at projection — index (0+1) div 2 = 0
      // would error under ANSI); the oracle's len(xs) > 0 guard filters
      // its NULL-list row the same way (EmptyInputSpec)
      .filter(size($"xs") > 0)
      .select(size($"xs").cast("long").as("b_count"),
        element_at($"xs", 1).as("boot_min"),
        element_at($"xs", expr("(size(xs) + 1) div 2").cast("int"))
          .as("boot_median"),
        element_at($"xs", size($"xs")).as("boot_max"))
      .crossJoin(broadcast(point))
      .select($"n_docs", $"b_count", $"est_point",
        $"boot_min", $"boot_median", $"boot_max",
        ($"est_point" >= $"boot_min" && $"est_point" <= $"boot_max")
          .as("point_in_band"))
  }

  /** Minimum content-token length for the q349 word graph — the crude
    * stopword screen (TextRank's POS filter without a tagger). */
  val TrMinTokenLen = 4

  /** q349 fixed-point rank scale — q197's 10¹² recipe on the word graph. */
  val TrScale = 1000000000000L

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — corpus-level
    * keywords as the PageRank of the word CO-OCCURRENCE graph: nodes
    * are content tokens (length ≥ [[TrMinTokenLen]]), edges join
    * ADJACENT content tokens with weight = corpus co-occurrence count,
    * kept sparse at the LOWER-MEDIAN multiplicity (the q337 selection —
    * a language graph is dense over its content vocabulary, so the
    * q202 lift rule would empty it; the median keeps the strong half
    * at any scale). Ranks run the q197 exact fixed-point recipe,
    * WEIGHTED: contribution = (rank·w) div strength (strength = Σw at
    * the source), Σ and the ×85 in decimal(38,0), three unrolled
    * iterations — bit-identical longs on both engines. Scale shape:
    * the pair stream is one explode of adjacent-pair arrays (map-side,
    * token-count-bounded per doc) into one grouped count; the graph is
    * VOCABULARY-bounded; iterations join the |V|-row rank table against
    * the pinned weighted adjacency exchange-free and pay one |E|-row
    * groupBy each (the q197 contract). Output: top-20 keywords. */
  def textrankKeywords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val ft = filter(TextOps.tokens($"text"),
      t => length(t) >= TrMinTokenLen)
    val prs = Tables.documents(s, dir)
      .select(explode(filter(zip_with(ft, slice(ft, lit(2), size(ft)),
        (a, b) => struct(a.as("x"), b.as("y"))),
        p => p.getField("y").isNotNull &&
          p.getField("x") =!= p.getField("y"))).as("p"))
      .select(least($"p.x", $"p.y").as("u"), greatest($"p.x", $"p.y").as("v"))
    // read by the threshold + edge filter
    val mult = Pinned.pin(prs.groupBy($"u", $"v").agg(count(lit(1)).as("m")))
    // Sparsifier: keep edges at or above the LOWER-MEDIAN pair
    // multiplicity (the q337 self-normalizing selection). The q202 lift
    // rule is wrong here: a natural-language co-occurrence graph is
    // DENSE over its content vocabulary (the fixture realizes every
    // pair), so lift·λ lands above max(m) and empties the graph;
    // the median keeps the strong half at ANY corpus scale, never
    // empties a non-empty graph, and the census it selects over is
    // bounded by the multiplicity value domain.
    val wCum = Window.orderBy($"mv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy($"mv")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val thr = mult.groupBy($"m".as("mv")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum($"n").over(wCum))
      .withColumn("tot", sum($"n").over(wAll))
      .agg(min(when($"cum" * 2 >= $"tot", $"mv")).as("thr"))
    val und = mult.crossJoin(broadcast(thr)).filter($"m" >= $"thr")
      .select($"u", $"v", $"m")
    val adj = Pinned.checkpointAsIs(
      und.unionAll(und.select($"v".as("u"), $"u".as("v"), $"m"))
        .groupBy($"u").agg(collect_list(struct($"v", $"m")).as("es"),
          sum($"m").as("sw")),
      "u")
    val nodes = adj.select($"u".as("node"))
    val r0 = nodes.select($"node", lit(TrScale).as("r"))
    def step(rk: DataFrame): DataFrame = {
      val contrib = adj.join(rk, adj("u") === rk("node"))
        .select(explode($"es").as("e"), $"r", $"sw")
        .select($"e.v".as("dst"),
          expr("(CAST(r AS DECIMAL(38,0)) * e.m) div sw").as("c"))
        .groupBy($"dst")
        .agg(sum($"c".cast(d38)).as("in_sum"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select($"node",
          (lit(15L * TrScale / 100L) +
            expr("85 * coalesce(in_sum, CAST(0 AS DECIMAL(38,0))) div 100"))
            .as("r"))
    }
    val r3 = step(step(step(r0)))
    r3.select($"node".as("keyword"), $"r".as("pr"))
      .orderBy($"pr".desc, $"keyword".asc)
      .limit(20)
  }

  /** q345 radius. The grid cell width equals ε, so any two points
    * within ε land in adjacent cells and the candidate join is exact. */
  val DbscanEps = 0.2

  /** ε² as its OWN decimal literal: 0.2·0.2 in IEEE is
    * 0.04000000000000001, NOT the double nearest 0.04 — both engines
    * must square-compare against the same literal string, never a
    * computed square. */
  val DbscanEps2 = 0.04

  /** Core threshold: |N_ε(p)| ≥ 5, the neighborhood INCLUDING p itself
    * (Ester et al.'s convention). At the fixture's 2-d projection this
    * splits 500 points into ~262 core / 71 border / 167 noise — all
    * three classes carry real mass. */
  val DbscanMinPts = 5L

  /** Grid-accelerated DBSCAN (Ester et al. 1996) over the 2-d JL
    * projection of the embedding corpus — the DENSITY clustering
    * counterpart of q109's k-means (no k, finds noise, arbitrary
    * shapes): composed with [[jlProjected]] exactly the way production
    * pipelines run DBSCAN on reduced dimensions. The ε-wide grid makes
    * the neighbor search a KEYED join: each point explodes to its 3×3
    * neighbor cells on the probe side and sits in its own cell on the
    * build side, so every ε-pair is found exactly once per direction —
    * never an all-pairs theta join (the q46 LSH-bucket stance; cell
    * population is density-bounded, not corpus-bounded). Core points
    * are an exact count filter; core-core components run min-label
    * propagation WITH POINTER JUMPING (label(v) ← label(label(v)) after
    * each neighbor round — O(log diameter) driver-gated rounds where
    * plain propagation pays the full diameter; the q76 decimal
    * label-sum convergence gate), so the spatial chain clusters a 2-d
    * projection produces converge in a handful of rounds. Borders join
    * their minimum core-neighbor label; the rest is noise. Output: one
    * census row per cluster + the noise row (cluster_id = −1).
    *
    * DENSITY PRECONDITION (measured at the 10× soak: 3.6 s → 16.9 s):
    * a FIXED ε on a corpus that densifies in a fixed volume grows
    * per-cell populations linearly and ε-pair counts quadratically —
    * intrinsic to DBSCAN, not the grid (everything merges into one
    * cluster long before the compute hurts). The production contract
    * is ε ∝ density⁻½ (re-tuned per corpus snapshot, exactly like the
    * data-driven thresholds of q202/q337); this operator keeps ε a
    * constant of the declared query so the oracle stays replayable. */
  def dbscanGrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = jlProjected(s, dir, 2)
      .select($"vec_id", element_at($"p", 1).as("y0"),
        element_at($"p", 2).as("y1"))
      .withColumn("cx", floor($"y0" / lit(DbscanEps)).cast("long"))
      .withColumn("cy", floor($"y1" / lit(DbscanEps)).cast("long"))
      .withColumn("eps2", lit(DbscanEps2))
    dbscanCensus(pts).orderBy($"cluster_id")
  }

  /** Neighborhood size k for [[lofGridOutliers]] — LOF's stock small-k
    * regime; 3 keeps the per-point state a 3-row fold. */
  val LofK = 3

  /** Squared k-distance ratio above which [[lofGridOutliers]] flags a
    * point — ratio 4 ⇔ the point's k-distance is twice its neighbors'
    * (LOF's "locally sparser than the neighborhood" reading). */
  val LofFlagRatio = 4.0

  /** Local-density outlier census (LOF-lite: the k-distance-ratio core
    * of Breunig et al. 2000's LOF, public definition) over the q345
    * grid — the LOCAL member the embedding-hygiene family lacks: q194
    * z-scores against the GLOBAL distribution and q387 counts hub
    * occurrences, but a point on a sparse shelf beside a dense cluster
    * is only visible to a density RATIO. Per point: candidates from the
    * [[DbscanEps]] 3×3 cell join (never all-pairs — the q345 stance),
    * k-distance² = the [[LofK]]-th smallest squared distance with
    * (d², vec_id) total-order ties, and the score kdist²(p) / mean of
    * its k neighbors' kdist² — > [[LofFlagRatio]] flags the point. The
    * mean folds the k neighbor values in ascending-rank order (fixed
    * IEEE sequence); points with fewer than k in-window candidates, or
    * any neighbor without a defined k-distance, keep NULL score and
    * NULL flag (the "isolated cell" guard — undefined is not flagged).
    * Scale: one projection scan, one cell-keyed candidate join whose
    * per-cell occupancy q361 already audits, one ia-keyed rank window,
    * one ≤k-row fold per point. */
  def lofGridOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Pinned.pin(jlProjected(s, dir, 2)
      .select($"vec_id", element_at($"p", 1).as("y0"),
        element_at($"p", 2).as("y1"))
      .withColumn("cx", floor($"y0" / lit(DbscanEps)).cast("long"))
      .withColumn("cy", floor($"y1" / lit(DbscanEps)).cast("long"))) // probe + build + output spine
    val probe = pts
      .select($"vec_id".as("ia"), $"y0".as("xa"), $"y1".as("ya"),
        $"cx", $"cy")
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select($"ia", $"xa", $"ya",
        ($"cx" + $"dx").as("gx"), ($"cy" + $"dy").as("gy"))
    val build = pts.select($"vec_id".as("ib"), $"y0".as("xb"),
      $"y1".as("yb"), $"cx".as("gx"), $"cy".as("gy"))
    val ranked = Pinned.pin(probe.join(build, Seq("gx", "gy"))
      .filter($"ia" =!= $"ib")
      .select($"ia", $"ib",
        (($"xa" - $"xb") * ($"xa" - $"xb") +
          ($"ya" - $"yb") * ($"ya" - $"yb")).as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"ia").orderBy($"d2".asc, $"ib".asc)))
      .filter($"rk" <= LofK)) // read by kdist AND the nbr join
    val kd = Pinned.pin(ranked.groupBy($"ia")
      .agg(count(lit(1)).as("n_nbr"),
        max(when($"rk" === LofK, $"d2")).as("kdist2"))) // read by the score AND as nbr side
    val nbrMean = ranked
      .join(kd.select($"ia".as("ib"), $"kdist2".as("nkd")), Seq("ib"), "left")
      .groupBy($"ia")
      .agg(sort_array(collect_list(struct($"rk", $"nkd"))).as("xs"))
      .select($"ia",
        (aggregate($"xs", lit(0.0), (a, x) => a + x.getField("nkd")) /
          lit(LofK.toDouble)).as("mean_nbr_kdist2"))
    pts.select($"vec_id")
      .join(kd.select($"ia".as("vec_id"), $"n_nbr", $"kdist2"),
        Seq("vec_id"), "left")
      .join(nbrMean.select($"ia".as("vec_id"), $"mean_nbr_kdist2"),
        Seq("vec_id"), "left")
      .select($"vec_id", coalesce($"n_nbr", lit(0L)).as("n_nbr"),
        $"kdist2",
        when($"n_nbr" === LofK.toLong, $"mean_nbr_kdist2")
          .as("mean_nbr_kdist2"),
        when($"n_nbr" === LofK.toLong && $"mean_nbr_kdist2" > 0.0,
          $"kdist2" / $"mean_nbr_kdist2").as("lof_ratio"),
        when($"n_nbr" === LofK.toLong && $"mean_nbr_kdist2" > 0.0,
          $"kdist2" / $"mean_nbr_kdist2" > lit(LofFlagRatio))
          .as("is_outlier"))
      .orderBy($"vec_id")
  }

  /** The grid-DBSCAN chain from candidate join to census, shared by
    * q345 (constant ε) and q361 (data-driven ε): expects
    * (vec_id, y0, y1, cx, cy, eps2) where cx/cy are the ε-grid cell of
    * the point and eps2 the squared radius each row compares against.
    * Returns the UNORDERED cluster census (callers order). */
  private def dbscanCensus(ptsIn: DataFrame): DataFrame = {
    val s = ptsIn.sparkSession
    import s.implicits._
    val pts = Pinned.pin(ptsIn) // read by probe/build sides + total
    val probe = pts
      .select($"vec_id".as("ia"), $"y0".as("xa"), $"y1".as("ya"),
        $"cx", $"cy", $"eps2")
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select($"ia", $"xa", $"ya", $"eps2",
        ($"cx" + $"dx").as("gx"), ($"cy" + $"dy").as("gy"))
    val build = pts.select($"vec_id".as("ib"), $"y0".as("xb"),
      $"y1".as("yb"), $"cx".as("gx"), $"cy".as("gy"))
    // read by degrees + edges + borders
    val nbr = Pinned.pin(probe.join(build, Seq("gx", "gy"))
      .filter(($"xa" - $"xb") * ($"xa" - $"xb") +
        ($"ya" - $"yb") * ($"ya" - $"yb") <= $"eps2")
      .select($"ia", $"ib")) // symmetric; includes the self-pair
    // read by cores + non-cores
    val deg = Pinned.pin(nbr.groupBy($"ia").agg(count(lit(1)).as("nn")))
    val cores = Pinned.pin(deg.filter($"nn" >= DbscanMinPts).select($"ia".as("v")))
    // core-core edges as (src, dst); nbr carries each core's self-pair
    val coreEdges = Pinned.pin(nbr
      .join(broadcast(cores.select($"v".as("ia"))), Seq("ia"), "semi")
      .join(broadcast(cores.select($"v".as("ib"))), Seq("ib"), "semi")
      .select($"ia".as("src"), $"ib".as("dst"))) // read every fixpoint round
    // labels are core ids, always present as nodes: the jump holds
    val labels = Fixpoint.minLabels(coreEdges,
      cores.select($"v".as("node"), $"v".as("lab")), pointerJump = true)
    val border = nbr
      .join(broadcast(deg.filter($"nn" < DbscanMinPts).select($"ia")),
        Seq("ia"), "semi")
      .join(broadcast(cores.select($"v".as("ib"))), Seq("ib"), "semi")
      .join(labels, $"ib" === $"node")
      .groupBy($"ia").agg(min($"lab").as("lab"))
    val cc = labels.groupBy($"lab").agg(count(lit(1)).as("n_core"))
    val bc = border.groupBy($"lab").agg(count(lit(1)).as("n_border"))
    val clusters = cc.join(bc, Seq("lab"), "left")
      .select($"lab".as("cluster_id"), $"n_core",
        coalesce($"n_border", lit(0L)).as("n_border"))
    val totals = pts.agg(count(lit(1)).as("n_total"))
      .crossJoin(cc.agg(coalesce(sum($"n_core"), lit(0L)).as("tc")))
      .crossJoin(bc.agg(coalesce(sum($"n_border"), lit(0L)).as("tb")))
    val noiseRow = totals.select(lit(-1L).as("cluster_id"),
      lit(0L).as("n_core"), lit(0L).as("n_border"),
      ($"n_total" - $"tc" - $"tb").as("n_points"))
    clusters
      .select($"cluster_id", $"n_core", $"n_border",
        ($"n_core" + $"n_border").as("n_points"))
      .unionAll(noiseRow)
  }

  /** q361 target mean ε-cell occupancy (≈ MinPts − 1: aim each ε-cell
    * at roughly a core neighborhood's worth of points). */
  val DbscanTargetOcc = 4.0

  /** q361 ε lattice clamp: chosen ε lives on the 1/16 dyadic lattice in
    * [1/16, 4]. Dyadic lattice values are EXACT doubles, so ε·ε is one
    * identical IEEE multiply in both engines — the q345 eps²-literal
    * trap does not reopen for the derived radius. */
  val DbscanEpsMin = 0.0625
  val DbscanEpsMax = 4.0

  /** Grid DBSCAN with a DATA-DRIVEN ε — closes q345's documented
    * density precondition the way q205 closed salting (advisor →
    * actuator): the production contract is ε ∝ density⁻½, so derive it
    * per corpus snapshot instead of freezing it. One bounded density
    * census at the q345 probe scale (occupied 0.2-cells and their
    * populations — census rows are density-bounded, never corpus-
    * bounded) gives the mean occupancy m = n/occ; the radius is
    * ε = 0.2·√([[DbscanTargetOcc]]/m), floored to the 1/16 lattice and
    * clamped ([[DbscanEpsMin]], [[DbscanEpsMax]]) so the oracle replays
    * the EXACT choice (√ is a correctly-rounded IEEE op — portable; the
    * lattice value is an exact double, so cell keys and ε² agree
    * bitwise). The chosen ε and the census evidence ride every output
    * row as oracle-checked columns; the clustering itself is q345's
    * chain unchanged. As the corpus densifies 10×, ε shrinks ~√10 and
    * per-cell populations stay ~[[DbscanTargetOcc]] — the ε-pair count
    * grows LINEARLY where q345's fixed ε measured 4.7× (soak table in
    * docs/PLANS.md). */
  def dbscanAutoEps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val proj = Pinned.pin(jlProjected(s, dir, 2)
      .select($"vec_id", element_at($"p", 1).as("y0"),
        element_at($"p", 2).as("y1"))) // read by the density census + pts
    val pcen = proj
      .select(floor($"y0" / lit(DbscanEps)).as("px"),
        floor($"y1" / lit(DbscanEps)).as("py"))
      .groupBy($"px", $"py").agg(count(lit(1)).as("pc"))
    val epsDf = pcen
      .agg(count(lit(1)).as("occ"), sum($"pc").as("n"))
      .select($"occ", $"n",
        greatest(lit(DbscanEpsMin), least(lit(DbscanEpsMax),
          floor(lit(DbscanEps) * sqrt(lit(DbscanTargetOcc) *
            ($"occ".cast("double") / $"n".cast("double"))) * lit(16.0))
            / lit(16.0))).as("eps"))
    val pts = proj.crossJoin(broadcast(epsDf.select($"eps")))
      .withColumn("cx", floor($"y0" / $"eps").cast("long"))
      .withColumn("cy", floor($"y1" / $"eps").cast("long"))
      .withColumn("eps2", $"eps" * $"eps")
      .select($"vec_id", $"y0", $"y1", $"cx", $"cy", $"eps2")
    dbscanCensus(pts)
      .crossJoin(broadcast(epsDf.select($"eps".as("eps_chosen"),
        $"occ".as("probe_cells"), $"n".as("n_probe_points"))))
      .orderBy($"cluster_id")
  }

  /** Adjusted Rand index (Hubert–Arabie 1985, public description)
    * between the embedding LABEL partition and the JL-grid-cell
    * partition (each point's 0.2-cell of the 2-d projection — the
    * quantization clustering underlying q345) — the external
    * cluster-agreement EVAL next to q345/q361's clustering and q352's
    * retrieval eval: RI is the share of point pairs the two partitions
    * agree on; ARI rescales so independent partitions score ~0 and
    * identical ones exactly 1. Everything is exact pair counting on
    * DOUBLED sums (x·(x−1) — always even, so no half-pairs ever form):
    * Sij₂/Sa₂/Sb₂ over the contingency census, combined in
    * decimal(38,0) cross-multiplies (P₂·Sij₂ ~ n⁴ passes long at ~10⁵
    * points), ONE divide each for RI and ARI. Single-cluster-vs-labels
    * degenerate: ARI = 0 exactly (numerator vanishes — spec-planted);
    * identical partitions: ARI = 1.0 exactly (numerator ≡ denominator).
    *
    * Scale shape: one keyed join attaches labels to projections; the
    * contingency census is (label × occupied-cell)-bounded; margins
    * and the final folds are census-sized aggs. */
  def adjustedRandIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val cells = jlProjected(s, dir, 2)
      .select($"vec_id",
        concat_ws(":",
          floor(element_at($"p", 1) / lit(DbscanEps)).cast("long"),
          floor(element_at($"p", 2) / lit(DbscanEps)).cast("long")).as("cell"))
      .join(Tables.embeddings(s, dir).select($"vec_id", $"label"), "vec_id")
    val cont = Pinned.pin(cells.groupBy($"label", $"cell")
      .agg(count(lit(1)).as("nij"))) // read by Sij, both margins, and the totals
    val sij = cont.agg(sum($"nij" * ($"nij" - 1L)).as("s2ij"),
      sum($"nij").as("n"), countDistinct($"label").as("n_labels"),
      countDistinct($"cell").as("n_cells"))
    val sa = cont.groupBy($"label").agg(sum($"nij").as("ai"))
      .agg(sum($"ai" * ($"ai" - 1L)).as("s2a"))
    val sb = cont.groupBy($"cell").agg(sum($"nij").as("bj"))
      .agg(sum($"bj" * ($"bj" - 1L)).as("s2b"))
    sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
      .withColumn("p2", ($"n" * ($"n" - 1L)).cast(d38))
      .withColumn("ri_num", $"p2" - $"s2a" - $"s2b" + lit(2L) * $"s2ij")
      .withColumn("ari_num",
        lit(2L) * ($"p2" * $"s2ij" - $"s2a".cast(d38) * $"s2b"))
      .withColumn("ari_den",
        $"p2" * ($"s2a" + $"s2b") - lit(2L) * $"s2a".cast(d38) * $"s2b")
      .select($"n", $"n_labels", $"n_cells", $"s2ij", $"s2a", $"s2b",
        when($"p2" > 0, $"ri_num".cast("double") / $"p2".cast("double"))
          .as("rand_index"),
        // ari_den = 0 ⟺ both partitions are the SAME trivial partition
        // (both all-singletons or both one-cluster) — perfect agreement,
        // the scikit-learn 0/0 → 1 convention
        when($"ari_den" =!= 0,
          $"ari_num".cast("double") / $"ari_den".cast("double"))
          .otherwise(lit(1.0)).as("ari"))
  }

  /** q350 panel/selection sizes: 6 queries × 10 candidates → 5 picks. */
  val MmrQueries = 6
  val MmrCandidates = 10
  val MmrPicks = 5

  /** Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998) —
    * the DIVERSIFICATION stage a RAG stack runs between retrieval
    * (q45/q330) and the prompt: greedily pick k documents maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked (λ = 1/2,
    * dyadic — both terms exact IEEE ops over the established bitwise
    * cosine), so near-duplicate hits stop crowding out coverage. The
    * greedy loop is UNROLLED to [[MmrPicks]] fixed steps (per step: an
    * anti-join against the picked set, one max-sim lookup on the
    * candidate-pair sim table, a per-query rank-1 window, vid ties) —
    * both engines replay the identical argmax sequence. Scale shape:
    * candidates are a top-[[MmrCandidates]] WindowGroupLimit per query;
    * the pair-sim table is panel × k² (bounded, pinned); every step
    * operates on ≤ panel·k rows. Pick 1 is pure relevance (its
    * mmr_score IS its cosine — the standard convention). */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < MmrQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("vid"), $"embedding".as("ve"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    val cand = Pinned.pin(broadcast(q).join(c, $"qid" =!= $"vid")
      .withColumn("cos", graft.operators.VectorOps.cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= MmrCandidates)
      .select($"qid", $"vid", $"ve", $"cos".as("rel"))) // read by sims + all 5 steps
    val sims = Pinned.pin(cand.select($"qid", $"vid".as("vi"), $"ve".as("ei"))
      .join(cand.select($"qid".as("q2"), $"vid".as("vj"), $"ve".as("ej")),
        $"qid" === $"q2" && $"vi" =!= $"vj")
      .select($"qid", $"vi", $"vj",
        graft.operators.VectorOps.cosine(s)($"ei", $"ej").as("sim"))) // read by steps 2..5
    val wPick = Window.partitionBy($"qid").orderBy($"score".desc, $"vid".asc)
    val first = cand.select($"qid", $"vid", $"rel", $"rel".as("score"))
      .withColumn("pk", row_number().over(wPick)).filter($"pk" === 1)
      .select($"qid", $"vid", $"rel", $"score", lit(1L).as("pick"))
    var selected = Pinned.pin(first)
    (2 to MmrPicks).foreach { k =>
      val pick = cand
        .join(selected.select($"qid", $"vid"), Seq("qid", "vid"), "anti")
        .join(sims.join(selected.select($"qid".as("sq"), $"vid".as("sv")),
            $"qid" === $"sq" && $"vj" === $"sv")
          .groupBy($"qid".as("mq"), $"vi".as("mv"))
          .agg(max($"sim").as("ms")),
          $"qid" === $"mq" && $"vid" === $"mv")
        .select($"qid", $"vid", $"rel",
          (lit(0.5) * $"rel" - lit(0.5) * $"ms").as("score"))
        .withColumn("pk", row_number().over(wPick)).filter($"pk" === 1)
        .select($"qid", $"vid", $"rel", $"score", lit(k.toLong).as("pick"))
      selected = Pinned.pin(selected.unionAll(pick))
    }
    selected
      .select($"qid", $"pick", $"vid", $"rel".as("rel_cos"),
        $"score".as("mmr_score"))
      .orderBy($"qid", $"pick")
  }

  /** q351 confidence bins (deciles of the marker-share confidence). */
  val EceBins = 10

  /** Expected-calibration-error census over the q48 language-ID scorer —
    * the MEASUREMENT next to the q335/q336 calibration FIXES: bin each
    * scored doc by its confidence — the LAPLACE-SMOOTHED posterior of
    * the predicted language over the 4 candidates,
    * (s_best + 1)/(s_tot + 4), binned by exact integer cross-multiply,
    * never a float boundary (the unsmoothed share degenerates: docs
    * rarely mix marker lists, so s_best = s_tot puts ALL mass in the
    * top bin; the smoothed posterior is also the statistically honest
    * confidence at single-digit counts) — compare per-bin accuracy to
    * the bin's midpoint
    * confidence, and fold ECE = Σ (n_b/N)·|acc_b − mid_b|. This is the
    * STATIC-MIDPOINT ECE variant (documented deviation: the classic form
    * uses the bin's MEAN confidence, an order-dependent float sum over
    * corpus-sized bins — unportable under the hash contract; midpoints
    * keep every per-bin term a single-divide exact quantity, and the
    * ≤10-element ECE fold runs in one sorted array row). Unscored docs
    * (no markers) are excluded and censused. */
  def eceCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = withMarkerScores(Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text")))
      .withColumn("s_tot",
        MarkerChain.map { case (l, _) => col(s"s_$l") }.reduce(_ + _))
      .filter($"s_tot" > 0L)
      .withColumn("predicted", markerPredicted("fr"))
      .withColumn("s_best",
        greatest(MarkerChain.map { case (l, _) => col(s"s_$l") }: _*))
      .withColumn("bin",
        least(lit(EceBins - 1L),
          expr(s"((s_best + 1) * $EceBins) div (s_tot + 4)")))
      .withColumn("correct", $"predicted" === $"lang")
    val bins = scored.groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"correct", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", ratio($"n_correct", $"n_docs"))
      .withColumn("conf_mid", ratio(lit(2L) * $"bin" + 1L, lit(2L * EceBins)))
    val ece = bins
      .agg(sort_array(collect_list(
        struct($"bin", $"n_docs", $"accuracy", $"conf_mid"))).as("xs"))
      .select(aggregate($"xs", lit(0L),
        (a, x) => a + x.getField("n_docs")).as("n_scored"), $"xs")
      .select($"n_scored", aggregate($"xs", lit(0.0), (a, x) =>
        a + (x.getField("n_docs").cast("double") / $"n_scored".cast("double"))
          * abs(x.getField("accuracy") - x.getField("conf_mid"))).as("ece"))
    bins.crossJoin(broadcast(ece))
      .select($"bin", $"n_docs", $"n_correct", $"accuracy", $"conf_mid",
        $"n_scored", $"ece")
      .orderBy($"bin")
  }

  /** Cohen's kappa + confusion census for the q48/q351 language-ID
    * scorer — the chance-corrected AGREEMENT eval beside q351's
    * calibration: raw accuracy (p_o) flatters a classifier whenever one
    * class dominates; kappa subtracts the agreement the margins alone
    * would produce, κ = (N·D − Σ_k r_k·c_k)/(N² − Σ_k r_k·c_k) — both
    * sides exact integers in decimal(38,0) (N² passes long past ~3·10⁹
    * docs), ONE divide, alongside p_o and p_e as identically-shaped
    * single divides. The census is the ≤16-cell confusion matrix over
    * the 4-language domain with the kappa panel riding every row;
    * marker-less docs and foreign-language docs are excluded and
    * censused (n_unscored / n_foreign). Degenerate single-diagonal-cell
    * corpus (p_e = 1): κ is 0/0 — defined to 1.0 (trivially perfect
    * agreement, the q363 convention). Scale: one scan → bounded census;
    * everything downstream is 4×4. */
  /** The q48/q351 marker scorer over EVERY doc (no marker screen):
    * (lang, predicted, s_best, s_tot) — shared by q364's kappa and
    * q368's Brier decomposition; q351 keeps its inline twin. */
  private def markerScoredAll(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withMarkerScores(Tables.documents(s, dir)
      .withColumn("toks", TextOps.tokens($"text")))
      .withColumn("s_tot",
        MarkerChain.map { case (l, _) => col(s"s_$l") }.reduce(_ + _))
      .withColumn("predicted", markerPredicted("fr"))
      .withColumn("s_best",
        greatest(MarkerChain.map { case (l, _) => col(s"s_$l") }: _*))
      .select($"lang", $"predicted", $"s_best", $"s_tot")
  }

  def cohensKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val domain = Seq("en", "es", "de", "fr")
    val all = Pinned.pin(markerScoredAll(s, dir)
      .select($"lang", $"predicted", $"s_tot")) // read by the census AND the exclusion counts
    val excl = all.agg(
      sum(when($"s_tot" === 0L, 1L).otherwise(0L)).as("n_unscored"),
      sum(when($"s_tot" > 0L && !$"lang".isin(domain: _*), 1L)
        .otherwise(0L)).as("n_foreign"))
    // read by margins + totals + rows
    val cells = Pinned.pin(all.filter($"s_tot" > 0L && $"lang".isin(domain: _*))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n_docs")))
    val margins = cells.groupBy($"lang").agg(sum($"n_docs").as("rk"))
      .join(cells.groupBy($"predicted").agg(sum($"n_docs").as("ck")),
        $"lang" === $"predicted", "full")
      .agg(coalesce(sum(coalesce($"rk", lit(0L)).cast(d38) *
        coalesce($"ck", lit(0L))), lit(BigDecimal(0)).cast(d38)).as("src"))
    val tot = cells.agg(sum($"n_docs").as("nn"),
      sum(when($"lang" === $"predicted", $"n_docs").otherwise(0L)).as("diag"))
    val kden = $"nn".cast(d38) * $"nn" - $"src"
    val stats = tot.crossJoin(broadcast(margins)).crossJoin(broadcast(excl))
      .select($"nn".as("n_scored"), $"diag".as("n_agree"),
        ratio($"diag", $"nn").as("po"),
        ($"src".cast("double") /
          ($"nn".cast("double") * $"nn".cast("double"))).as("pe"),
        when(kden =!= 0, ($"nn".cast(d38) * $"diag" - $"src").cast("double")
          / kden.cast("double")).otherwise(lit(1.0)).as("kappa"),
        $"n_unscored", $"n_foreign")
    cells.crossJoin(broadcast(stats))
      .orderBy($"lang", $"predicted")
  }

  /** Brier score + Murphy decomposition of the q351 confidence — the
    * PROPER-SCORING-RULE eval completing the calibration family (q351
    * measures ECE, q335/q336 fix calibration; Brier is the strictly
    * proper rule that also prices REFINEMENT): per scored doc, the
    * Laplace-smoothed confidence c = (s_best+1)/(s_tot+4) of the
    * predicted language against the binary outcome y = (predicted =
    * true lang). Docs collapse to the CONFIDENCE-VALUE census (bins
    * keyed by the shared-divide double c — identical in both engines,
    * the q195 float-key contract; the (s_best, s_tot) domain bounds the
    * bin count at any SF), so Brier = Σ[n_correct·(1−c)² +
    * n_wrong·c²]/N and Murphy's reliability Σn(c−acc)²/N / resolution
    * Σn(acc−ȳ)²/N / uncertainty ȳ(1−ȳ) all fold over the ONE c-sorted
    * census array in fixed IEEE order. The decomposition identity
    * brier = reliability − resolution + uncertainty holds exactly in
    * real arithmetic on value-keyed bins (spec re-checks it to 1e-12
    * against the folded doubles). */
  def brierDecomposition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = markerScoredAll(s, dir)
      .filter($"s_tot" > 0L)
      .withColumn("conf", ratio($"s_best" + 1L, $"s_tot" + 4L))
      .withColumn("correct", $"predicted" === $"lang")
    val bins = scored.groupBy($"conf")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"correct", 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy", ratio($"n_correct", $"n_docs"))
    val folded = bins
      .agg(sort_array(collect_list(struct($"conf", $"n_docs",
        $"n_correct", $"accuracy"))).as("xs"))
      .select($"xs",
        aggregate($"xs", lit(0L), (a, x) => a + x.getField("n_docs"))
          .as("n_scored"),
        aggregate($"xs", lit(0L), (a, x) => a + x.getField("n_correct"))
          .as("n_correct_tot"))
      .withColumn("base_rate", ratio($"n_correct_tot", $"n_scored"))
      .select($"xs", $"n_scored", $"base_rate",
        aggregate($"xs", lit(0.0), (a, x) =>
          a + (x.getField("n_correct").cast("double") *
            (lit(1.0) - x.getField("conf")) * (lit(1.0) - x.getField("conf"))
            + (x.getField("n_docs") - x.getField("n_correct")).cast("double")
            * x.getField("conf") * x.getField("conf")))
          .as("brier_num"),
        aggregate($"xs", lit(0.0), (a, x) =>
          a + x.getField("n_docs").cast("double") *
            (x.getField("conf") - x.getField("accuracy")) *
            (x.getField("conf") - x.getField("accuracy")))
          .as("rel_num"))
    val folded2 = folded
      .withColumn("res_num",
        aggregate($"xs", lit(0.0), (a, x) =>
          a + x.getField("n_docs").cast("double") *
            (x.getField("accuracy") - $"base_rate") *
            (x.getField("accuracy") - $"base_rate")))
      .select($"n_scored", $"base_rate",
        ($"brier_num" / $"n_scored".cast("double")).as("brier"),
        ($"rel_num" / $"n_scored".cast("double")).as("reliability"),
        ($"res_num" / $"n_scored".cast("double")).as("resolution"),
        ($"base_rate" * (lit(1.0) - $"base_rate")).as("uncertainty"))
    bins.crossJoin(broadcast(folded2))
      .select($"conf", $"n_docs", $"n_correct", $"accuracy",
        $"n_scored", $"base_rate", $"brier", $"reliability",
        $"resolution", $"uncertainty")
      .orderBy($"conf")
  }

  /** q352 panel: the first 8 vectors query the rest of the corpus. */
  val IrEvalQueries = 8

  /** Retrieval-quality evaluation census (MRR, precision@5, hits@10) —
    * the EVAL harness for the ANN family: each panel query's exact
    * cosine top-10 is scored against label-match relevance (the fixture
    * embeddings carry cluster labels), per query reciprocal rank and
    * precision, plus the panel MRR / mean-P@5 riding every row. DCG is
    * deliberately absent: its 1/log₂(rank+1) gains are libm — RR and
    * precision are exact single divides, and the panel means fold over
    * the qid-sorted ≤8-element array (fixed IEEE order). The no-relevant
    * case contributes RR = 0 (the standard convention) and a NULL first
    * rank. Scale: the ranking is the q45 broadcast panel scan; panel
    * size is FIXED (the q193 order-bounded stance). */
  def retrievalEvalCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < IrEvalQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"label".as("qlab"))
    val c = e.select($"vec_id".as("vid"), $"embedding".as("ve"),
      $"label".as("vlab"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    val per = broadcast(q).join(c, $"qid" =!= $"vid")
      .withColumn("cos", graft.operators.VectorOps.cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"qid", $"qlab", $"rn".cast("long").as("rn"),
        ($"vlab" === $"qlab").as("rel"))
      .groupBy($"qid", $"qlab")
      .agg(min(when($"rel", $"rn")).as("first_rel_rank"),
        sum(when($"rel" && $"rn" <= 5L, 1L).otherwise(0L)).as("rel_at_5"),
        sum(when($"rel", 1L).otherwise(0L)).as("rel_at_10"))
      .withColumn("rr", when($"first_rel_rank".isNotNull,
        ratio(lit(1L), $"first_rel_rank")).otherwise(lit(0.0)))
      .withColumn("p_at_5", ratio($"rel_at_5", lit(5L)))
    val glob = per
      .agg(sort_array(collect_list(
        struct($"qid", $"rr", $"p_at_5".as("p5")))).as("xs"))
      .select(size($"xs").cast("long").as("n_queries"), $"xs")
      .select($"n_queries",
        when($"n_queries" > 0L, aggregate($"xs", lit(0.0),
          (a, x) => a + x.getField("rr")) / $"n_queries".cast("double"))
          .as("mrr"),
        when($"n_queries" > 0L, aggregate($"xs", lit(0.0),
          (a, x) => a + x.getField("p5")) / $"n_queries".cast("double"))
          .as("mean_p_at_5"))
    per.crossJoin(broadcast(glob))
      .select($"qid", $"qlab".as("label"), $"first_rel_rank", $"rel_at_5",
        $"rel_at_10", $"rr", $"p_at_5", $"n_queries", $"mrr",
        $"mean_p_at_5")
      .orderBy($"qid")
  }

  /** 10-entry literal discount table for q358: disc(r) = 1/log₂(r+1),
    * r = 1..10, as AUTHORING-TIME constants (the q348 e⁻¹ stance — log₂
    * is libm, so it enters only here, at write time; shortest-repr
    * doubles round-trip to identical bits in both engines' parsers).
    * The spec re-derives each entry against math.log to 1 ulp. */
  val NdcgDiscount: Seq[Double] = Seq(
    1.0, 0.6309297535714574, 0.5, 0.43067655807339306,
    0.38685280723454163, 0.3562071871080222, 0.3333333333333333,
    0.3154648767857287, 0.30102999566398114, 0.2890648263178878)

  /** SQL literal twin of [[NdcgDiscount]] (a 1-indexed DuckDB list).
    * Every element is CAST(... AS DOUBLE): a bare decimal literal
    * parses as DECIMAL(17,16), the list unifies to DECIMAL, and the
    * later DECIMAL→DOUBLE conversion lands one ulp off the correctly
    * rounded literal (measured on 1/3) — the cast keeps the list
    * DOUBLE-typed so the parse itself is the shortest-repr round-trip. */
  private def ndcgDiscSql: String =
    NdcgDiscount.map(d => s"CAST($d AS DOUBLE)").mkString("[", ", ", "]")

  /** nDCG@10 over the q352 retrieval panel — closes the gap q352's own
    * Scaladoc documents: rank is bounded in {1..10}, so the log₂ gains
    * live in [[NdcgDiscount]]'s literal table and DCG/IDCG become
    * FIXED-ORDER folds over the rank-sorted top-10 array (each term is
    * a literal or 0.0 — the float sums hash-compare because both
    * engines replay the identical ≤10-step IEEE sequence). The ideal
    * ranking uses the CORPUS relevant count R = |label cohort| − 1
    * (not just relevance inside the retrieved 10 — the honest IDCG):
    * IDCG = Σ_{r≤min(R,10)} disc(r), guarded for R = 0 where the
    * convention is nDCG = 0 (q352's no-relevant stance; Spark's
    * sequence(1, 0) would count DOWN, so the guard is load-bearing).
    * Panel mean rides every row via the qid-sorted fold. Scale: the
    * ranking is the q45 broadcast panel scan; the label-cohort table
    * is label-domain-bounded and broadcast. */
  def ndcgAt10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val labCnt = e.groupBy($"label".as("lc_lab")).agg(count(lit(1)).as("n_lab"))
    val q = e.filter($"vec_id" < IrEvalQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"label".as("qlab"))
    val c = e.select($"vec_id".as("vid"), $"embedding".as("ve"),
      $"label".as("vlab"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    val disc = array(NdcgDiscount.map(lit): _*)
    val per = broadcast(q).join(c, $"qid" =!= $"vid")
      .withColumn("cos", graft.operators.VectorOps.cosine(s)($"qe", $"ve"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"qid", $"qlab", $"rn".cast("long").as("rn"),
        ($"vlab" === $"qlab").as("rel"))
      .groupBy($"qid", $"qlab")
      .agg(sort_array(collect_list(struct($"rn", $"rel"))).as("xs"))
      .join(broadcast(labCnt), $"qlab" === $"lc_lab")
      .withColumn("n_rel_corpus", $"n_lab" - 1L)
      .withColumn("dcg", aggregate($"xs", lit(0.0), (a, x) =>
        a + when(x.getField("rel"),
          element_at(disc, x.getField("rn").cast("int")))
          .otherwise(lit(0.0))))
      .withColumn("k_ideal", least($"n_rel_corpus", lit(10L)))
      .withColumn("idcg", when($"k_ideal" > 0L,
        aggregate(sequence(lit(1L), $"k_ideal"), lit(0.0), (a, i) =>
          a + element_at(disc, i.cast("int")))).otherwise(lit(0.0)))
      .withColumn("ndcg",
        when($"idcg" > 0.0, $"dcg" / $"idcg").otherwise(lit(0.0)))
    val glob = per
      .agg(sort_array(collect_list(struct($"qid", $"ndcg".as("nd")))).as("gs"))
      .select(size($"gs").cast("long").as("n_queries"), $"gs")
      .select($"n_queries",
        when($"n_queries" > 0L, aggregate($"gs", lit(0.0),
          (a, x) => a + x.getField("nd")) / $"n_queries".cast("double"))
          .as("mean_ndcg"))
    per.crossJoin(broadcast(glob))
      .select($"qid", $"qlab".as("label"), $"n_rel_corpus", $"dcg",
        $"idcg", $"ndcg", $"n_queries", $"mean_ndcg")
      .orderBy($"qid")
  }

  /** q362 RBO depth (the rankings compared are the q352-style top-10s)
    * and the exact dyadic score scale: with persistence p = 1/2,
    * RBO@10 = Σ_d X_d/(2^d·d), so scoring in units of
    * 1/(2¹⁰·lcm(1..10)) = 1/2580480 makes every term an exact integer
    * (the q318 lcm trick) — identical rankings score 1023/1024 (the
    * documented prefix-truncation ceiling of extrapolation-free RBO). */
  val RboDepth = 10
  val RboScale = 2580480L // 2^10 · lcm(1..10) = 1024 · 2520

  /** Per-depth integer RBO coefficients: coef(d) = (2520/d)·2^(10−d). */
  val RboCoef: Seq[Long] =
    (1 to RboDepth).map(d => (2520L / d) * (1L << (RboDepth - d)))

  /** Rank-biased overlap (Webber–Moffat–Zobel 2010) between the EXACT
    * cosine ranking and the JL-compressed (16-d, q344) cosine ranking —
    * the index-FIDELITY audit beside q352's label-relevance eval: when
    * an ANN index ranks on compressed vectors, RBO@10 with p = 1/2
    * measures how much of the top-weighted ranking the compression
    * kept, weighting depth d by p^(d−1) (disagreement at rank 1 costs
    * 512× rank 10 — the user-facing weighting plain overlap misses).
    * Both rankings and the prefix-overlap profile X_1..X_10 are exact
    * (integer ids, the established bitwise cosine trees); the score is
    * an exact integer in 1/[[RboScale]] units ([[RboCoef]]) with ONE
    * final divide. Identical prefixes score exactly 1023/1024
    * ([[RboScale]] ceiling — prefix-truncated RBO, no extrapolation;
    * documented), disjoint prefixes exactly 0. Scale: two q45-shape
    * broadcast panel scans (the corpus never shuffles); the JL ranker
    * pays the q344 projection scan; everything downstream is
    * panel-bounded. */
  def rboIndexFidelity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dcos(a: Column, b: Column): Column = {
      def dot(x: Column, y: Column) =
        aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, v) => acc + v)
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    }
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"vid".asc)
    def topIds(ranked: DataFrame): DataFrame = ranked
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= RboDepth)
      .groupBy($"qid")
      .agg(transform(sort_array(collect_list(struct($"rn", $"vid"))),
        x => x.getField("vid")).as("ids"))
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < IrEvalQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val c = e.select($"vec_id".as("vid"), $"embedding".as("ve"))
    val exactTop = topIds(broadcast(q).join(c, $"qid" =!= $"vid")
      .withColumn("cos", graft.operators.VectorOps.cosine(s)($"qe", $"ve")))
      .select($"qid", $"ids".as("s_ids"))
    // read by the panel AND corpus sides
    val proj = Pinned.pin(jlProjected(s, dir, JlDims).select($"vec_id", $"p"))
    val qp = proj.filter($"vec_id" < IrEvalQueries)
      .select($"vec_id".as("qid"), $"p".as("pq"))
    val cp = proj.select($"vec_id".as("vid"), $"p".as("pv"))
    val jlTop = topIds(broadcast(qp).join(cp, $"qid" =!= $"vid")
      .withColumn("cos", dcos($"pq", $"pv")))
      .select($"qid".as("qid2"), $"ids".as("t_ids"))
    def xd(d: Int): Column =
      size(array_intersect(slice($"s_ids", 1, d), slice($"t_ids", 1, d)))
        .cast("long")
    val per = exactTop.join(jlTop, $"qid" === $"qid2")
      .withColumn("overlap_at_10", xd(RboDepth))
      .withColumn("rbo_scaled",
        RboCoef.zipWithIndex.map { case (cf, i) => xd(i + 1) * lit(cf) }
          .reduce(_ + _))
      .withColumn("rbo", ratio($"rbo_scaled", lit(RboScale)))
      .select($"qid", $"overlap_at_10", $"rbo_scaled", $"rbo")
    val glob = per
      .agg(sort_array(collect_list(struct($"qid", $"rbo".as("r")))).as("gs"))
      .select(size($"gs").cast("long").as("n_queries"), $"gs")
      .select($"n_queries",
        when($"n_queries" > 0L, aggregate($"gs", lit(0.0),
          (a, x) => a + x.getField("r")) / $"n_queries".cast("double"))
          .as("mean_rbo"))
    per.crossJoin(broadcast(glob))
      .orderBy($"qid")
  }

  /** Skip-gram training-pair generation with frequency subsampling
    * (Mikolov et al. 2013's word2vec recipe, public description) — the
    * pipeline stage that turns a corpus into embedding training pairs:
    * each token OCCURRENCE survives with p = min(1, √(t/z) + t/z)
    * (z = corpus frequency share, t = 10⁻³ — frequent words thinned
    * aggressively, rare ones kept), then (center, context) pairs are
    * emitted over a ±2 window of the COMPACTED kept sequence. The keep
    * decision is deterministic (md5(doc, pos) 24-bit uniform vs
    * floor(p·2²⁴) — p's √ and divides are IEEE ops over exact count
    * ratios, identical trees both engines; the q260/q339/q348 seeded
    * stance), so the pair census is oracle-checkable. Scale shape: one
    * grouped count builds the vocab-bounded frequency table (broadcast
    * here; a web-scale vocab shuffles the token-keyed join instead —
    * same plan class); keeps are map-side; pair generation is
    * within-doc array work (doc-length-bounded, the q342 combination
    * stance); the census groupBy is vocab²-bounded. Output: top-30
    * pairs + corpus totals riding every row. */
  def skipgramSubsample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", posexplode(TextOps.tokens($"text")))
      .select($"doc_id", $"pos", $"col".as("w"))
    val freq = toks.groupBy($"w").agg(count(lit(1)).as("f"))
    val tot = freq.agg(sum($"f").as("t_all"))
    val thr = freq.crossJoin(broadcast(tot))
      .withColumn("z", ratio($"f", $"t_all"))
      .select($"w",
        floor(least(lit(1.0), sqrt(lit(0.001) / $"z") + (lit(0.001) / $"z"))
          * lit(16777216.0)).cast("long").as("keep_below"))
    // read by the pair explode + totals
    val kept = Pinned.pin(toks
      .join(broadcast(thr), "w")
      .filter(conv(substring(md5(concat($"doc_id".cast("string"), lit(":"),
        $"pos".cast("string"))), 1, 6), 16, 10).cast("long") < $"keep_below")
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"pos", $"w"))).as("ks")))
    // ordered pairs at compacted distance 1..2, emitted in BOTH
    // directions (skip-gram's symmetric context window)
    val pairs = kept.select(explode(flatten(transform($"ks", (x, i) =>
        transform(slice($"ks", i + 2, lit(2)),
          y => struct(x.getField("w").as("a"), y.getField("w").as("b")))))).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
    // read by top-30 + the pair total
    val census = Pinned.pin(pairs.select($"a".as("center"), $"b".as("context"))
      .unionAll(pairs.select($"b".as("center"), $"a".as("context")))
      .groupBy($"center", $"context").agg(count(lit(1)).as("n_pairs")))
    val stats = toks.agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(kept.agg(
        coalesce(sum(size($"ks")), lit(0)).cast("long").as("n_kept")))
      .crossJoin(census.agg(
        coalesce(sum($"n_pairs"), lit(0L)).as("n_pairs_total")))
    census.orderBy($"n_pairs".desc, $"center".asc, $"context".asc)
      .limit(30)
      .crossJoin(broadcast(stats))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q355_skipgram_subsample" -> skipgramSubsample,
    "q350_mmr_rerank" -> mmrRerank,
    "q351_ece_calibration" -> eceCalibration,
    "q352_retrieval_eval_census" -> retrievalEvalCensus,
    "q358_ndcg_at_10" -> ndcgAt10,
    "q362_rbo_index_fidelity" -> rboIndexFidelity,
    "q363_adjusted_rand_index" -> adjustedRandIndex,
    "q364_cohens_kappa" -> cohensKappa,
    "q365_mann_whitney_u" -> mannWhitneyU,
    "q366_roc_auc_surprisal" -> rocAucSurprisal,
    "q373_average_precision" -> averagePrecision,
    "q381_f1_threshold" -> f1ThresholdPanel,
    "q382_mcc_eval" -> mccEvalPanel,
    "q367_permutation_test" -> permutationTest,
    "q368_brier_decomposition" -> brierDecomposition,
    "q370_vocab_growth" -> vocabGrowth,
    "q372_cramers_v" -> cramersV,
    "q345_dbscan_grid" -> dbscanGrid,
    "q361_dbscan_auto_eps" -> dbscanAutoEps,
    "q349_textrank_keywords" -> textrankKeywords,
    "q348_bootstrap_ci" -> bootstrapCi,
    "q347_quantile_normalization" -> quantileNormalization,
    "q344_jl_projection_census" -> jlProjectionCensus,
    "q328_leakage_safe_split" -> leakageSafeSplit,
    "q327_bitext_margin_mining" -> bitextMarginMining,
    "q324_shard_manifest" -> shardManifest,
    "q325_quality_filter_inference" -> qualityFilterInference,
    "q221_bigram_coverage" -> bigramCoverage,
    "q223_containment_dedup" -> containmentDedup,
    "q210_kwic_context" -> kwicContext,
    "q204_setsim_prefix_join" -> setSimPrefixJoin,
    "q181_dense_id_assignment" -> denseIdAssignment,
    "q180_feature_hashing" -> featureHashing,
    "q293_importance_resampling" -> importanceResampling,
    "q295_temperature_mixture" -> temperatureMixture,
    "q296_matryoshka_census" -> matryoshkaCensus,
    "q297_bigram_lm_perplexity" -> bigramLmPerplexity,
    "q298_boilerplate_census" -> boilerplateCensus,
    "q299_source_overlap_matrix" -> sourceOverlapMatrix,
    "q311_winnowing_census" -> winnowingCensus,
    "q312_incremental_lsh_dedup" -> incrementalLshDedup,
    "q314_duplicate_span_extraction" -> duplicateSpanExtraction,
    "q315_pareto_frontier" -> paretoFrontier,
    "q316_eval_span_decontamination" -> evalSpanDecontamination,
    "q318_hybrid_rrf_fusion" -> hybridRrfFusion,
    "q321_priority_sample" -> prioritySample,
    "q304_distribution_drift" -> distributionDrift,
    "q332_ks_drift_stat" -> ksDriftStat,
    "q356_cvm_drift_stat" -> cvmDriftStat,
    "q334_neyman_allocation" -> neymanAllocation,
    "q335_conformal_threshold" -> conformalThreshold,
    "q336_isotonic_calibration" -> isotonicCalibration,
    "q300_pq_codebook_census" -> pqCodebookCensus,
    "q330_ann_ivf_pq_adc" -> annIvfPqAdc,
    "q174_cluster_survivorship" -> clusterSurvivorship,
    "q163_hard_negatives" -> hardNegatives,
    "q193_knn_label_vote" -> knnLabelVote,
    "q387_knn_hubness" -> knnHubness,
    "q388_simpson_diversity" -> simpsonDiversity,
    "q390_qq_decile_drift" -> qqDecileDrift,
    "q391_kruskal_wallis" -> kruskalWallis,
    "q392_dup_saturation" -> dupSaturation,
    "q393_anova_effect" -> anovaEffect,
    "q394_cohens_d" -> cohensD,
    "q395_effective_sample_size" -> effectiveSampleSize,
    "q396_mcnemar_filter_ab" -> mcnemarFilterAb,
    "q397_fleiss_kappa_ensemble" -> fleissKappaEnsemble,
    "q399_bigram_kneser_ney" -> bigramKneserNey,
    "q400_lof_grid_outliers" -> lofGridOutliers,
    "q402_cochran_q_filters" -> cochranQFilters,
    "q403_cliffs_delta_drift" -> cliffsDeltaDrift,
    "q405_chao1_richness" -> chao1Richness,
    "q406_good_turing_mass" -> goodTuringMass,
    "q407_brown_forsythe_drift" -> brownForsytheDrift,
    "q408_hellinger_lang_drift" -> hellingerLangDrift,
    "q413_jarque_bera" -> jarqueBeraCensus,
    "q416_zipf_slope" -> zipfSlopeCensus,
    "q417_wilson_keep_rates" -> wilsonKeepRates,
    "q418_wasserstein_drift" -> wassersteinDrift,
    "q419_energy_distance_drift" -> energyDistanceDrift,
    "q420_welch_ttest_drift" -> welchTTestDrift,
    "q424_krippendorff_alpha" -> krippendorffAlpha,
    "q425_term_burstiness" -> termBurstiness,
    "q428_hodges_lehmann_shift" -> hodgesLehmannShift,
    "q430_kendall_w_proxies" -> kendallWProxies,
    "q432_cronbach_alpha" -> cronbachAlphaProxies,
    "q433_lin_ccc" -> linCccCharsBudget,
    "q434_bland_altman" -> blandAltmanCharsBudget,
    "q435_yule_k" -> yuleKCensus,
    "q436_cochran_armitage" -> cochranArmitageTrend,
    "q196_bpe_encode" -> bpeEncode,
    "q157_bpe_merges" -> bpeMerges,
    "q329_bpe_merge_loop" -> bpeMergeLoop,
    "q374_wordpiece_merge_loop" -> wordpieceMergeLoop,
    "q360_unigram_lm_tokenizer" -> unigramLmTokenizer,
    "q156_curation_funnel" -> curationFunnel,
    "q147_quality_gopher" -> qualityGopherRules,
    "q148_domain_blocklist" -> domainBlocklist,
    "q149_inverted_index" -> invertedIndex,
    "q131_quality_unigram_lm" -> qualityUnigramLm,
    "q132_bm25_search" -> bm25Search,
    "q133_collocation_pmi" -> collocationPmi,
    "q127_mix_rebalance" -> mixRebalance,
    "q128_dedup_lines" -> dedupLinesRebuild,
    "q40_dedup_exact" -> dedupExact,
    "q239_token_fertility" -> tokenFertility,
    "q240_minhash_accuracy_gate" -> minhashAccuracyGate,
    "q241_deterministic_shuffle" -> deterministicShuffle,
    "q248_quality_mixture_plan" -> qualityMixturePlan,
    "q260_consistent_hash_sample" -> consistentHashSample,
    "q249_ngram_novelty" -> ngramNovelty,
    "q250_embedding_norm_census" -> embeddingNormCensus,
    "q41_dedup_minhash_lsh" -> dedupMinhashLsh,
    "q76_dedup_clusters" -> dedupClusters,
    "q42_dedup_simhash" -> dedupSimhash,
    "q43_dedup_ngram_jaccard" -> dedupNgramJaccard,
    "q44_dedup_embedding" -> dedupEmbedding,
    "q64_dedup_embedding_banded" -> dedupEmbeddingBanded,
    "q45_ann_brute_force" -> annBruteForce,
    "q46_ann_lsh_bucketed" -> annLshBucketed,
    "q53_ann_ivf" -> annIvf,
    "q75_ann_ivf_multiprobe" -> annIvfMultiprobe,
    "q57_ann_custom_topk" -> annCustomTopK,
    "q70_ann_recall_gate" -> annRecallGate,
    "q47_text_stats" -> textStats,
    "q48_lang_id" -> langId,
    "q49_quality_score" -> qualityScore,
    "q50_fingerprint" -> fingerprint,
    "q51_token_count" -> tokenCount,
    "q52_tfidf_top_terms" -> tfidfTop,
    "q74_pii_scrub" -> piiScrub,
    "q78_embed_quantize" -> embedQuantize,
    "q81_quality_repetition" -> qualityRepetition,
    "q82_split_assign" -> splitAssign,
    "q83_chunk_overlap" -> chunkOverlap,
    "q84_sample_stratified" -> sampleStratified,
    "q96_decontaminate" -> decontaminate,
    "q98_pack_sequences" -> packSequences,
    "q104_dedup_editdistance" -> dedupEditDistance,
    "q106_sample_weighted" -> sampleWeighted,
    "q107_profile_corpus" -> profileCorpus,
    "q108_dedup_substring" -> dedupSubstring,
    "q109_kmeans_clusters" -> kmeansClusters,
    "q110_semdedup_prune" -> semdedupPrune,
    "q114_table_checksum" -> tableChecksum,
    "q115_url_normalize" -> urlNormalize,
    "q117_dedup_keep_best" -> dedupKeepBest,
    "q119_token_histogram" -> tokenHistogram
  )

  /** One unrolled weighted-PageRank round for the q349 oracle. */
  private def trRoundSql(k: Int): String = {
    val prev = s"r${k - 1}"
    s"""c$k AS (SELECT e.dst AS node,
       |        sum((CAST($prev.r AS HUGEINT) * e.m) // st.sw) AS s
       |        FROM e JOIN $prev ON e.src = $prev.node
       |               JOIN st ON e.src = st.src
       |        GROUP BY 1),
       |r$k AS (SELECT n.node,
       |        CAST(${15L * TrScale / 100L}
       |             + (85 * coalesce(c$k.s, 0)) // 100 AS BIGINT) AS r
       |        FROM n LEFT JOIN c$k ON n.node = c$k.node)""".stripMargin
  }

  /** One unrolled greedy MMR step for the q350 oracle: the not-picked
    * candidates score 0.5·rel − 0.5·max-sim-to-picked; rank-1 per query,
    * vid ties; the picked set accrues. */
  private def mmrStepSql(k: Int): String = {
    val prev = s"s${k - 1}"
    s"""p$k AS MATERIALIZED (
       |  SELECT qid, vid, rel, score, CAST($k AS BIGINT) AS pick FROM (
       |    SELECT qid, vid, rel, score, row_number() OVER (
       |      PARTITION BY qid ORDER BY score DESC, vid ASC) AS pk
       |    FROM (
       |      SELECT c.qid, c.vid, c.rel,
       |             0.5 * c.rel - 0.5 * max(m.sim) AS score
       |      FROM cand c
       |      JOIN sims m ON m.qid = c.qid AND m.vi = c.vid
       |      JOIN $prev sl ON sl.qid = m.qid AND sl.vid = m.vj
       |      WHERE NOT EXISTS (SELECT 1 FROM $prev x
       |                        WHERE x.qid = c.qid AND x.vid = c.vid)
       |      GROUP BY 1, 2, 3)) WHERE pk = 1
       |), s$k AS MATERIALIZED (
       |  SELECT * FROM $prev UNION ALL SELECT * FROM p$k)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q355_skipgram_subsample" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, u.pos AS pos, u.w AS w
         |  FROM (SELECT doc_id,
         |          unnest(list_transform($toksSql, (x, i) ->
         |            struct_pack(pos := CAST(i - 1 AS BIGINT), w := x))) AS u
         |        FROM documents)
         |), freq AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1
         |), tot AS (SELECT CAST(sum(f) AS BIGINT) AS t_all FROM freq),
         |thr AS MATERIALIZED (
         |  SELECT w, CAST(floor(least(1.0, sqrt(0.001 / z) + (0.001 / z))
         |         * 16777216.0) AS BIGINT) AS keep_below
         |  FROM (SELECT w, ${ratioSql("f", "t_all")} AS z FROM freq, tot)
         |), kept AS MATERIALIZED (
         |  SELECT doc_id, list(struct_pack(pos := pos, w := w)
         |           ORDER BY pos) AS ks
         |  FROM toks JOIN thr USING (w)
         |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
         |          || CAST(pos AS VARCHAR)), 1, 6)) AS BIGINT) < keep_below
         |  GROUP BY 1
         |), prs AS MATERIALIZED (
         |  SELECT p.a AS a, p.b AS b FROM (
         |    SELECT unnest(flatten(list_transform(ks, (x, i) ->
         |      list_transform(ks[i+1:i+2],
         |        y -> struct_pack(a := x.w, b := y.w))))) AS p
         |    FROM kept)
         |), census AS MATERIALIZED (
         |  SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs FROM (
         |    SELECT a AS center, b AS context FROM prs
         |    UNION ALL SELECT b AS center, a AS context FROM prs)
         |  GROUP BY 1, 2
         |), top30 AS (
         |  SELECT * FROM census
         |  ORDER BY n_pairs DESC, center ASC, context ASC LIMIT 30
         |), stats AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM toks) AS n_occurrences,
         |         (SELECT CAST(coalesce(sum(len(ks)), 0) AS BIGINT) FROM kept)
         |           AS n_kept,
         |         (SELECT CAST(coalesce(sum(n_pairs), 0) AS BIGINT) FROM census)
         |           AS n_pairs_total
         |)
         |SELECT center, context, n_pairs, n_occurrences, n_kept, n_pairs_total
         |FROM top30, stats
         |ORDER BY n_pairs DESC, center, context""".stripMargin,
    "q350_mmr_rerank" ->
      s"""WITH cand AS MATERIALIZED (
         |  SELECT qid, vid, ve, rel FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid, c.embedding AS ve,
         |           ${cosSql("q.embedding", "c.embedding")} AS rel,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |                      c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < $MmrQueries) q
         |    JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id)
         |  WHERE rn <= $MmrCandidates
         |), sims AS MATERIALIZED (
         |  SELECT a.qid, a.vid AS vi, b.vid AS vj,
         |         ${cosSql("a.ve", "b.ve")} AS sim
         |  FROM (SELECT * FROM cand) a JOIN (SELECT * FROM cand) b
         |    ON a.qid = b.qid AND a.vid <> b.vid
         |), s1 AS MATERIALIZED (
         |  SELECT qid, vid, rel, rel AS score, CAST(1 AS BIGINT) AS pick
         |  FROM (SELECT qid, vid, rel, row_number() OVER (
         |          PARTITION BY qid ORDER BY rel DESC, vid ASC) AS pk
         |        FROM cand) WHERE pk = 1
         |), ${(2 to MmrPicks).map(mmrStepSql).mkString(", ")}
         |SELECT qid, pick, vid, rel AS rel_cos, score AS mmr_score
         |FROM s$MmrPicks ORDER BY qid, pick""".stripMargin,
    "q351_ece_calibration" ->
      s"""WITH scored AS MATERIALIZED (
         |  SELECT lang,
         |         ${markerCaseSql("fr")} AS predicted,
         |         $markerBestSql AS s_best,
         |         $markerTotSql AS s_tot
         |  FROM (
         |    SELECT lang, $markerScoresSql
         |    FROM (SELECT lang, $toksSql AS toks FROM documents)
         |  ) WHERE $markerTotSql > 0
         |), bins AS MATERIALIZED (
         |  SELECT least(${EceBins - 1},
         |               ((s_best + 1) * $EceBins) // (s_tot + 4)) AS bin,
         |         CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_correct
         |  FROM scored GROUP BY 1
         |), wb AS MATERIALIZED (
         |  SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_correct,
         |         ${ratioSql("n_correct", "n_docs")} AS accuracy,
         |         ${ratioSql("2 * bin + 1", s"${2 * EceBins}")} AS conf_mid
         |  FROM bins
         |), folded AS (
         |  SELECT list(struct_pack(bin := bin, n_docs := n_docs,
         |           accuracy := accuracy, conf_mid := conf_mid)
         |           ORDER BY bin) AS xs
         |  FROM wb
         |), tot AS (
         |  SELECT n_scored,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(xs, x ->
         |             (CAST(x.n_docs AS DOUBLE) / CAST(n_scored AS DOUBLE))
         |             * abs(x.accuracy - x.conf_mid))), (a, b) -> a + b) AS ece
         |  FROM (SELECT xs, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(xs, x -> x.n_docs)), (a, b) -> a + b)
         |          AS n_scored
         |        FROM folded)
         |)
         |SELECT bin, n_docs, n_correct, accuracy, conf_mid, n_scored, ece
         |FROM wb, tot ORDER BY bin""".stripMargin,
    "q352_retrieval_eval_census" ->
      s"""WITH per AS MATERIALIZED (
         |  SELECT qid, qlab,
         |         CAST(min(CASE WHEN rel THEN rn END) AS BIGINT)
         |           AS first_rel_rank,
         |         CAST(sum(CASE WHEN rel AND rn <= 5 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS rel_at_5,
         |         CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
         |           AS rel_at_10
         |  FROM (
         |    SELECT qid, qlab, rn, rel FROM (
         |      SELECT q.vec_id AS qid, q.label AS qlab,
         |             c.label = q.label AS rel,
         |             row_number() OVER (PARTITION BY q.vec_id
         |               ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |                        c.vec_id ASC) AS rn
         |      FROM (SELECT * FROM embeddings WHERE vec_id < $IrEvalQueries) q
         |      JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id)
         |    WHERE rn <= 10)
         |  GROUP BY 1, 2
         |), sc AS MATERIALIZED (
         |  SELECT qid, qlab, first_rel_rank, rel_at_5, rel_at_10,
         |         CASE WHEN first_rel_rank IS NOT NULL
         |              THEN ${ratioSql("1", "first_rel_rank")}
         |              ELSE 0.0 END AS rr,
         |         ${ratioSql("rel_at_5", "5")} AS p_at_5
         |  FROM per
         |), panelg AS (
         |  SELECT CAST(len(xs) AS BIGINT) AS n_queries,
         |         CASE WHEN len(xs) > 0 THEN
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(xs, x -> x.rr)), (a, b) -> a + b)
         |           / CAST(len(xs) AS DOUBLE) END AS mrr,
         |         CASE WHEN len(xs) > 0 THEN
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(xs, x -> x.p5)), (a, b) -> a + b)
         |           / CAST(len(xs) AS DOUBLE) END AS mean_p_at_5
         |  FROM (SELECT list(struct_pack(qid := qid, rr := rr, p5 := p_at_5)
         |                 ORDER BY qid) AS xs FROM sc)
         |)
         |SELECT qid, qlab AS label, first_rel_rank, rel_at_5, rel_at_10,
         |       rr, p_at_5, n_queries, mrr, mean_p_at_5
         |FROM sc, panelg ORDER BY qid""".stripMargin,
    // q352's panel scan + the literal discount table; DCG/IDCG are
    // fixed-order ≤10-step folds so the float columns hash-compare
    "q358_ndcg_at_10" ->
      s"""WITH per AS MATERIALIZED (
         |  SELECT qid, qlab,
         |         list(struct_pack(rn := rn, rel := rel) ORDER BY rn) AS xs
         |  FROM (
         |    SELECT qid, qlab, CAST(rn AS BIGINT) AS rn, rel FROM (
         |      SELECT q.vec_id AS qid, q.label AS qlab,
         |             c.label = q.label AS rel,
         |             row_number() OVER (PARTITION BY q.vec_id
         |               ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |                        c.vec_id ASC) AS rn
         |      FROM (SELECT * FROM embeddings WHERE vec_id < $IrEvalQueries) q
         |      JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id)
         |    WHERE rn <= 10)
         |  GROUP BY 1, 2
         |), lc AS (
         |  SELECT label AS lc_lab, CAST(count(*) AS BIGINT) AS n_lab
         |  FROM embeddings GROUP BY 1
         |), sc AS MATERIALIZED (
         |  SELECT qid, qlab, n_lab - 1 AS n_rel_corpus,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(xs, x -> CASE WHEN x.rel
         |             THEN ($ndcgDiscSql)[CAST(x.rn AS INT)]
         |             ELSE 0.0 END)), (a, b) -> a + b) AS dcg,
         |         CASE WHEN least(n_lab - 1, 10) > 0 THEN
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(range(1, least(n_lab - 1, 10) + 1),
         |               i -> ($ndcgDiscSql)[CAST(i AS INT)])), (a, b) -> a + b)
         |         ELSE 0.0 END AS idcg
         |  FROM per JOIN lc ON qlab = lc_lab
         |), nd AS MATERIALIZED (
         |  SELECT qid, qlab, n_rel_corpus, dcg, idcg,
         |         CASE WHEN idcg > 0.0 THEN dcg / idcg ELSE 0.0 END AS ndcg
         |  FROM sc
         |), panelg AS (
         |  SELECT CAST(len(gs) AS BIGINT) AS n_queries,
         |         CASE WHEN len(gs) > 0 THEN
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(gs, x -> x.nd)), (a, b) -> a + b)
         |           / CAST(len(gs) AS DOUBLE) END AS mean_ndcg
         |  FROM (SELECT list(struct_pack(qid := qid, nd := ndcg)
         |                 ORDER BY qid) AS gs FROM nd)
         |)
         |SELECT qid, qlab AS label, n_rel_corpus, dcg, idcg, ndcg,
         |       n_queries, mean_ndcg
         |FROM nd, panelg ORDER BY qid""".stripMargin,
    // the shared 2-d grid points, the q345 cell-keyed candidate join
    // minus self-pairs, a (d², ib)-ordered rank window, and the
    // ascending-rank neighbor fold (NULL neighbor kdists propagate —
    // undefined is never flagged)
    "q400_lof_grid_outliers" ->
      s"""WITH $jl2PtsSql, cand AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |         (a.y0 - b.y0) * (a.y0 - b.y0)
         |         + (a.y1 - b.y1) * (a.y1 - b.y1) AS d2
         |  FROM (SELECT pts.*, dx, dy FROM pts,
         |          (SELECT unnest([-1, 0, 1]) AS dx),
         |          (SELECT unnest([-1, 0, 1]) AS dy)) a
         |  JOIN pts b ON a.cx + a.dx = b.cx AND a.cy + a.dy = b.cy
         |  WHERE a.vec_id <> b.vec_id
         |), ranked AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT ia, ib, d2, row_number() OVER (
         |      PARTITION BY ia ORDER BY d2 ASC, ib ASC) AS rk
         |    FROM cand)
         |  WHERE rk <= $LofK
         |), kd AS MATERIALIZED (
         |  SELECT ia, CAST(count(*) AS BIGINT) AS n_nbr,
         |         max(CASE WHEN rk = $LofK THEN d2 END) AS kdist2
         |  FROM ranked GROUP BY 1
         |), nm AS (
         |  SELECT r.ia,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(k2.kdist2 ORDER BY r.rk)), (a, b) -> a + b)
         |           / ${LofK.toDouble} AS mnk
         |  FROM ranked r LEFT JOIN kd k2 ON r.ib = k2.ia
         |  GROUP BY 1
         |)
         |SELECT p.vec_id, coalesce(kd.n_nbr, 0) AS n_nbr, kd.kdist2,
         |       CASE WHEN kd.n_nbr = $LofK THEN nm.mnk END
         |         AS mean_nbr_kdist2,
         |       CASE WHEN kd.n_nbr = $LofK AND nm.mnk > 0.0
         |            THEN kd.kdist2 / nm.mnk END AS lof_ratio,
         |       CASE WHEN kd.n_nbr = $LofK AND nm.mnk > 0.0
         |            THEN kd.kdist2 / nm.mnk > $LofFlagRatio END AS is_outlier
         |FROM pts p
         |LEFT JOIN kd ON p.vec_id = kd.ia
         |LEFT JOIN nm ON p.vec_id = nm.ia
         |ORDER BY p.vec_id""".stripMargin,
    "q345_dbscan_grid" ->
      // 2-d slice of the q344 projection replay; components by
      // recursive-CTE reachability + min (the q76 oracle pattern), so
      // the hash compare proves pointer-jumped propagation ≡ the
      // definitional transitive closure
      s"""WITH RECURSIVE $jl2PtsSql, nbr AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM (SELECT pts.*, dx, dy FROM pts,
         |          (SELECT unnest([-1, 0, 1]) AS dx),
         |          (SELECT unnest([-1, 0, 1]) AS dy)) a
         |  JOIN pts b ON a.cx + a.dx = b.cx AND a.cy + a.dy = b.cy
         |  WHERE (a.y0 - b.y0) * (a.y0 - b.y0)
         |        + (a.y1 - b.y1) * (a.y1 - b.y1) <= $DbscanEps2
         |), deg AS MATERIALIZED (
         |  SELECT ia, count(*) AS nn FROM nbr GROUP BY 1
         |), cores AS MATERIALIZED (
         |  SELECT ia AS v FROM deg WHERE nn >= $DbscanMinPts
         |), ce AS MATERIALIZED (
         |  SELECT ia, ib FROM nbr
         |  WHERE ia IN (SELECT v FROM cores) AND ib IN (SELECT v FROM cores)
         |), reach(v, r) AS (
         |  SELECT v, v FROM cores
         |  UNION
         |  SELECT x.v, e.ib FROM reach x JOIN ce e ON x.r = e.ia
         |), labels AS MATERIALIZED (
         |  SELECT v AS doc, CAST(min(r) AS BIGINT) AS lab
         |  FROM reach GROUP BY 1
         |), border AS MATERIALIZED (
         |  SELECT n.ia, CAST(min(l.lab) AS BIGINT) AS lab
         |  FROM nbr n JOIN labels l ON n.ib = l.doc
         |  WHERE n.ia IN (SELECT ia FROM deg WHERE nn < $DbscanMinPts)
         |  GROUP BY 1
         |), cc AS MATERIALIZED (
         |  SELECT lab, CAST(count(*) AS BIGINT) AS n_core FROM labels GROUP BY 1
         |), bc AS MATERIALIZED (
         |  SELECT lab, CAST(count(*) AS BIGINT) AS n_border FROM border GROUP BY 1
         |)
         |SELECT * FROM (
         |  SELECT cc.lab AS cluster_id, n_core,
         |         CAST(coalesce(n_border, 0) AS BIGINT) AS n_border,
         |         n_core + CAST(coalesce(n_border, 0) AS BIGINT) AS n_points
         |  FROM cc LEFT JOIN bc ON cc.lab = bc.lab
         |  UNION ALL
         |  SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT) FROM pts)
         |         - (SELECT CAST(coalesce(sum(n_core), 0) AS BIGINT) FROM cc)
         |         - (SELECT CAST(coalesce(sum(n_border), 0) AS BIGINT) FROM bc)
         |)
         |ORDER BY cluster_id""".stripMargin,
    // full margins×margins grid (absent cells carry expected mass), χ²
    // folded in cell-sorted order, V and residuals as shared trees
    "q372_cramers_v" ->
      s"""WITH cells AS MATERIALIZED (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2
         |), rm AS (
         |  SELECT lang, CAST(sum(n) AS BIGINT) AS r_i FROM cells GROUP BY 1
         |), cm AS (
         |  SELECT source, CAST(sum(n) AS BIGINT) AS c_j FROM cells GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS nn,
         |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |  FROM cells
         |), grid AS MATERIALIZED (
         |  SELECT rm.lang, cm.source,
         |         CAST(coalesce(c.n, 0) AS BIGINT) AS n_obs, r_i, c_j, nn,
         |         CAST(r_i AS DOUBLE) * c_j / CAST(nn AS DOUBLE) AS e
         |  FROM rm CROSS JOIN cm
         |  LEFT JOIN cells c ON c.lang = rm.lang AND c.source = cm.source,
         |  tot
         |), chi AS (
         |  SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(xs, x ->
         |             CAST(x.n_obs * x.nn - x.r_i * x.c_j AS DOUBLE)
         |             * CAST(x.n_obs * x.nn - x.r_i * x.c_j AS DOUBLE)
         |             / (CAST(x.nn AS DOUBLE) * x.r_i * x.c_j))),
         |           (a, b) -> a + b) AS chi2
         |  FROM (SELECT list(struct_pack(lang := lang, source := source,
         |                 n_obs := n_obs, r_i := r_i, c_j := c_j, nn := nn)
         |                 ORDER BY lang, source) AS xs
         |        FROM grid)
         |), outt AS (
         |  SELECT chi2, nn AS n_docs, n_langs, n_sources,
         |         CASE WHEN least(n_langs, n_sources) > 1
         |              THEN sqrt(chi2 / (CAST(nn AS DOUBLE)
         |                * CAST(least(n_langs, n_sources) - 1 AS DOUBLE)))
         |              ELSE 0.0 END AS cramers_v
         |  FROM chi, tot
         |)
         |SELECT lang, source, n_obs, e AS expected,
         |       (CAST(n_obs AS DOUBLE) - e) / sqrt(e) AS std_residual,
         |       chi2, n_docs, n_langs, n_sources, cramers_v
         |FROM grid, outt
         |ORDER BY lang, source""".stripMargin,
    // first-appearance min-agg charges each type to one doc; value
    // bands + a 16-row prefix window; the sublinearity flag is an exact
    // HUGEINT cross-multiply on the half-vs-full checkpoint
    "q370_vocab_growth" ->
      s"""WITH bounds AS (
         |  SELECT CAST(min(doc_id) AS BIGINT) AS lo,
         |         CAST(max(doc_id) AS BIGINT) AS hi
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id, unnest($toksSql) AS tok FROM documents
         |), pbd AS (
         |  SELECT ((doc_id - lo) * $VgBands) // (hi - lo + 1) AS band,
         |         CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents, bounds GROUP BY 1
         |), pbt AS (
         |  SELECT ((doc_id - lo) * $VgBands) // (hi - lo + 1) AS band,
         |         CAST(count(*) AS BIGINT) AS n_tokens
         |  FROM toks, bounds GROUP BY 1
         |), pbn AS (
         |  SELECT ((fd - lo) * $VgBands) // (hi - lo + 1) AS band,
         |         CAST(count(*) AS BIGINT) AS n_new_types
         |  FROM (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fd
         |        FROM toks GROUP BY 1), bounds
         |  GROUP BY 1
         |), curve AS MATERIALIZED (
         |  SELECT CAST(d.band AS BIGINT) AS band, d.n_docs,
         |         CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
         |         CAST(coalesce(nn.n_new_types, 0) AS BIGINT) AS n_new_types,
         |         CAST(sum(coalesce(t.n_tokens, 0)) OVER w AS BIGINT)
         |           AS cum_tokens,
         |         CAST(sum(coalesce(nn.n_new_types, 0)) OVER w AS BIGINT)
         |           AS cum_types
         |  FROM pbd d
         |  LEFT JOIN pbt t ON d.band = t.band
         |  LEFT JOIN pbn nn ON d.band = nn.band
         |  WINDOW w AS (ORDER BY d.band
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), tot AS (
         |  SELECT ${sumLongSql(s"CASE WHEN band <= ${VgBands / 2 - 1} THEN n_tokens ELSE 0 END")} AS n_half,
         |         ${sumLongSql(s"CASE WHEN band <= ${VgBands / 2 - 1} THEN n_new_types ELSE 0 END")} AS v_half,
         |         ${sumLongSql("n_tokens")} AS n_full,
         |         ${sumLongSql("n_new_types")} AS v_full
         |  FROM curve
         |), rid AS (
         |  SELECT CAST(v_full AS HUGEINT) * n_half
         |           < CAST(n_full AS HUGEINT) * v_half AS sublinear,
         |         CASE WHEN v_half > 0 THEN ${ratioSql("v_full", "v_half")}
         |         END AS type_ratio,
         |         CASE WHEN n_half > 0 THEN ${ratioSql("n_full", "n_half")}
         |         END AS token_ratio
         |  FROM tot
         |)
         |SELECT band, n_docs, n_tokens, n_new_types, cum_tokens, cum_types,
         |       sublinear, type_ratio, token_ratio
         |FROM curve, rid
         |ORDER BY band""".stripMargin,
    // the confidence-VALUE census (double key from the one shared
    // divide) → three fixed-order folds over the conf-sorted array
    "q368_brier_decomposition" ->
      s"""WITH allsc AS MATERIALIZED (
         |  SELECT lang,
         |         ${markerCaseSql("fr")} AS predicted,
         |         $markerBestSql AS s_best,
         |         $markerTotSql AS s_tot
         |  FROM (
         |    SELECT lang, $markerScoresSql
         |    FROM (SELECT lang, $toksSql AS toks FROM documents)
         |  ) WHERE $markerTotSql > 0
         |), bins AS MATERIALIZED (
         |  SELECT conf, CAST(count(*) AS BIGINT) AS n_docs,
         |         ${sumLongSql("CASE WHEN correct THEN 1 ELSE 0 END")}
         |           AS n_correct
         |  FROM (SELECT ${ratioSql("s_best + 1", "s_tot + 4")} AS conf,
         |               predicted = lang AS correct
         |        FROM allsc)
         |  GROUP BY 1
         |), wb AS MATERIALIZED (
         |  SELECT conf, n_docs, n_correct,
         |         ${ratioSql("n_correct", "n_docs")} AS accuracy
         |  FROM bins
         |), folded AS (
         |  SELECT list(struct_pack(conf := conf, n_docs := n_docs,
         |           n_correct := n_correct, accuracy := accuracy)
         |           ORDER BY conf) AS xs
         |  FROM wb
         |), t1 AS (
         |  SELECT xs,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(xs, x -> x.n_docs)), (a, b) -> a + b)
         |           AS n_scored,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(xs, x -> x.n_correct)), (a, b) -> a + b)
         |           AS n_correct_tot
         |  FROM folded
         |), t2 AS (
         |  SELECT xs, n_scored,
         |         ${ratioSql("n_correct_tot", "n_scored")} AS base_rate,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(xs, x ->
         |             CAST(x.n_correct AS DOUBLE) * (1.0 - x.conf)
         |               * (1.0 - x.conf)
         |             + CAST(x.n_docs - x.n_correct AS DOUBLE)
         |               * x.conf * x.conf)), (a, b) -> a + b) AS brier_num,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(xs, x ->
         |             CAST(x.n_docs AS DOUBLE) * (x.conf - x.accuracy)
         |               * (x.conf - x.accuracy))), (a, b) -> a + b) AS rel_num
         |  FROM t1
         |), t3 AS (
         |  SELECT n_scored, base_rate,
         |         brier_num / CAST(n_scored AS DOUBLE) AS brier,
         |         rel_num / CAST(n_scored AS DOUBLE) AS reliability,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(xs, x ->
         |             CAST(x.n_docs AS DOUBLE) * (x.accuracy - base_rate)
         |               * (x.accuracy - base_rate))), (a, b) -> a + b)
         |           / CAST(n_scored AS DOUBLE) AS resolution,
         |         base_rate * (1.0 - base_rate) AS uncertainty
         |  FROM t2
         |)
         |SELECT conf, n_docs, n_correct, accuracy, n_scored, base_rate,
         |       brier, reliability, resolution, uncertainty
         |FROM wb, t3
         |ORDER BY conf""".stripMargin,
    // one md5 bit-slice per doc → 48 reassignment partials → per-b exact
    // difference numerators → the shared single-divide double compare
    "q367_permutation_test" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT CAST(len($toksSql) AS BIGINT) AS ntok,
         |         $driftHalfSql AS in_a,
         |         CAST(('0x' || substr(md5('perm:' || CAST(doc_id AS VARCHAR)),
         |                              1, 15)) AS BIGINT) AS h
         |  FROM documents
         |), obs AS (
         |  SELECT ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS n_a,
         |         ${sumLongSql("CASE WHEN in_a THEN ntok ELSE 0 END")} AS s_a,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS n_b,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE ntok END")} AS s_b
         |  FROM base
         |), perms AS MATERIALIZED (
         |  SELECT b,
         |         ${sumLongSql("CASE WHEN side = 1 THEN 1 ELSE 0 END")} AS n1,
         |         ${sumLongSql("CASE WHEN side = 1 THEN ntok ELSE 0 END")} AS s1,
         |         ${sumLongSql("CASE WHEN side = 1 THEN 0 ELSE 1 END")} AS n0,
         |         ${sumLongSql("CASE WHEN side = 1 THEN 0 ELSE ntok END")} AS s0
         |  FROM (SELECT ntok, b, (h >> CAST(b AS INT)) & 1 AS side
         |        FROM base, (SELECT unnest(range(0, $PermB)) AS b))
         |  GROUP BY 1
         |), cmp AS (
         |  SELECT CAST(count(*) AS BIGINT) AS b_total,
         |         ${sumLongSql("CASE WHEN d_b IS NOT NULL AND d_obs IS NOT NULL AND d_b >= d_obs THEN 1 ELSE 0 END")}
         |           AS n_geq
         |  FROM (
         |    SELECT CASE WHEN n1 > 0 AND n0 > 0 THEN
         |             CAST(abs(CAST(s1 AS HUGEINT) * n0
         |                      - CAST(s0 AS HUGEINT) * n1) AS DOUBLE)
         |             / (CAST(n1 AS DOUBLE) * n0) END AS d_b,
         |           CASE WHEN n_a > 0 AND n_b > 0 THEN
         |             CAST(abs(CAST(s_a AS HUGEINT) * n_b
         |                      - CAST(s_b AS HUGEINT) * n_a) AS DOUBLE)
         |             / (CAST(n_a AS DOUBLE) * n_b) END AS d_obs
         |    FROM perms, obs)
         |)
         |SELECT n_a, n_b,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(abs(CAST(s_a AS HUGEINT) * n_b
         |                  - CAST(s_b AS HUGEINT) * n_a) AS DOUBLE)
         |         / (CAST(n_a AS DOUBLE) * n_b) END AS diff_obs,
         |       b_total, n_geq,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         ${ratioSql("1 + n_geq", "b_total + 1")} END AS p_value
         |FROM cmp, obs""".stripMargin,
    // q131's surprisal chain → score census → the q365 doubled-midrank
    // prefix fold; AUC and rank-Gini are single divides of exact ints
    "q366_roc_auc_surprisal" ->
      s"""WITH $surprisalCensusSql, cums AS (
         |  SELECT npv, nnv, npv + nnv AS wv,
         |         CAST(sum(npv + nnv) OVER (ORDER BY score
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           - (npv + nnv) AS BIGINT) AS cum_before
         |  FROM census
         |), agg AS (
         |  SELECT CAST(sum(npv) AS BIGINT) AS n_pos,
         |         CAST(sum(nnv) AS BIGINT) AS n_neg,
         |         CAST(sum(npv * (2 * cum_before + wv + 1)) AS BIGINT) AS rs2
         |  FROM cums
         |)
         |SELECT n_pos, n_neg, rs2 - n_pos * (n_pos + 1) AS u2_pos,
         |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |         ${ratioSql("rs2 - n_pos * (n_pos + 1)", "2 * n_pos * n_neg")}
         |       END AS auc,
         |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |         ${ratioSql("rs2 - n_pos * (n_pos + 1) - n_pos * n_neg", "n_pos * n_neg")}
         |       END AS gini_rank
         |FROM agg""".stripMargin,
    // q366's shared score census → descending-threshold cums → one
    // fixed-order (ascending score) double fold over the term list
    "q373_average_precision" ->
      s"""WITH $surprisalCensusSql, cums AS (
         |  SELECT score, npv, nnv,
         |         CAST(sum(npv + nnv) OVER (ORDER BY score DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_ge,
         |         CAST(sum(npv) OVER (ORDER BY score DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cumpos_ge
         |  FROM census
         |), agg AS (
         |  SELECT CAST(sum(npv) AS BIGINT) AS n_pos,
         |         CAST(sum(nnv) AS BIGINT) AS n_neg,
         |         CAST(count(*) AS BIGINT) AS n_thresholds,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(CAST(npv * cumpos_ge AS DOUBLE)
         |                / CAST(cum_ge AS DOUBLE) ORDER BY score)),
         |           (a, t) -> a + t) AS sum_terms
         |  FROM cums
         |), fin AS (
         |  SELECT n_pos, n_neg, n_thresholds,
         |         CASE WHEN n_pos > 0
         |              THEN sum_terms / CAST(n_pos AS DOUBLE) END AS ap,
         |         CASE WHEN n_pos + n_neg > 0 THEN
         |           ${ratioSql("n_pos", "n_pos + n_neg")} END AS ap_baseline
         |  FROM agg
         |)
         |SELECT n_pos, n_neg, n_thresholds, ap, ap_baseline,
         |       CASE WHEN n_pos > 0 THEN ap / ap_baseline END AS ap_lift
         |FROM fin""".stripMargin,
    // the q373 threshold census → cross-multiplied F1 argmax (ties to
    // the higher threshold) via NOT EXISTS — the q374 oracle stance
    "q381_f1_threshold" ->
      s"""WITH $surprisalCensusSql, cums AS (
         |  SELECT score,
         |         CAST(sum(npv + nnv) OVER (ORDER BY score DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_ge,
         |         CAST(sum(npv) OVER (ORDER BY score DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cumpos_ge
         |  FROM census
         |), tot AS (
         |  SELECT CAST(sum(npv) AS BIGINT) AS n_pos,
         |         CAST(sum(nnv) AS BIGINT) AS n_neg,
         |         CAST(count(*) AS BIGINT) AS n_thresholds
         |  FROM census
         |), cand AS MATERIALIZED (
         |  SELECT score, cumpos_ge, cum_ge, n_pos, n_neg, n_thresholds,
         |         2 * cumpos_ge AS f1n, cum_ge + n_pos AS f1d
         |  FROM cums, tot
         |)
         |SELECT score AS score_threshold, n_pos, n_neg, n_thresholds,
         |       cumpos_ge AS tp, cum_ge - cumpos_ge AS fp,
         |       n_pos - cumpos_ge AS fn,
         |       ${ratioSql("cumpos_ge", "cum_ge")} AS precision,
         |       CASE WHEN n_pos > 0 THEN
         |         ${ratioSql("cumpos_ge", "n_pos")} END AS recall,
         |       ${ratioSql("2 * cumpos_ge", "cum_ge + n_pos")} AS f1
         |FROM cand a
         |WHERE NOT EXISTS (SELECT 1 FROM cand b WHERE
         |        CAST(b.f1n AS HUGEINT) * a.f1d > CAST(a.f1n AS HUGEINT) * b.f1d
         |        OR (CAST(b.f1n AS HUGEINT) * a.f1d = CAST(a.f1n AS HUGEINT) * b.f1d
         |            AND b.score > a.score))""".stripMargin,
    // q364's census base collapsed to the binary en-vs-rest confusion;
    // MCC's 4-margin product under ONE sqrt (the q376 stance)
    "q382_mcc_eval" ->
      s"""WITH allsc AS (
         |  SELECT lang,
         |         ${markerCaseSql("fr")} AS predicted,
         |         $markerTotSql AS s_tot
         |  FROM (
         |    SELECT lang, $markerScoresSql
         |    FROM (SELECT lang, $toksSql AS toks FROM documents)
         |  )
         |), cm AS (
         |  SELECT
         |    ${sumLongSql("CASE WHEN predicted = 'en' AND lang = 'en' THEN 1 ELSE 0 END")} AS tp,
         |    ${sumLongSql("CASE WHEN predicted = 'en' AND lang <> 'en' THEN 1 ELSE 0 END")} AS fp,
         |    ${sumLongSql("CASE WHEN predicted <> 'en' AND lang = 'en' THEN 1 ELSE 0 END")} AS fn,
         |    ${sumLongSql("CASE WHEN predicted <> 'en' AND lang <> 'en' THEN 1 ELSE 0 END")} AS tn
         |  FROM allsc
         |  WHERE s_tot > 0 AND lang IN ($markerLangsSql)
         |)
         |SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n_scored,
         |       CASE WHEN tp + fp > 0 THEN
         |         ${ratioSql("tp", "tp + fp")} END AS precision_en,
         |       CASE WHEN tp + fn > 0 THEN
         |         ${ratioSql("tp", "tp + fn")} END AS recall_en,
         |       CASE WHEN 2 * tp + fp + fn > 0 THEN
         |         ${ratioSql("2 * tp", "2 * tp + fp + fn")} END AS f1_en,
         |       CASE WHEN CAST(tp + fp AS HUGEINT) * (tp + fn)
         |                   * (tn + fp) * (tn + fn) > 0 THEN
         |         CAST(CAST(tp AS HUGEINT) * tn
         |              - CAST(fp AS HUGEINT) * fn AS DOUBLE)
         |           / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
         |                       * (tn + fp) * (tn + fn) AS DOUBLE))
         |       ELSE 0.0 END AS mcc
         |FROM cm""".stripMargin,
    // q332's census/prefix chain; doubled midranks keep every rank an
    // integer, the tie cube-sum rides as HUGEINT → VARCHAR, z is one
    // shared IEEE tree
    "q365_mann_whitney_u" ->
      s"""WITH base AS (
         |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok,
         |         $driftHalfSql AS in_a
         |  FROM documents
         |), census AS MATERIALIZED (
         |  SELECT lang, ntok,
         |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS nav,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nbv
         |  FROM base GROUP BY 1, 2
         |), cums AS (
         |  SELECT lang, ntok, nav, nbv, nav + nbv AS wv,
         |         CAST(sum(nav + nbv) OVER w - (nav + nbv) AS BIGINT)
         |           AS cum_before
         |  FROM census
         |  WINDOW w AS (PARTITION BY lang ORDER BY ntok
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), per AS MATERIALIZED (
         |  SELECT lang,
         |         CAST(sum(nav) AS BIGINT) AS n_a,
         |         CAST(sum(nbv) AS BIGINT) AS n_b,
         |         CAST(sum(nav * (2 * cum_before + wv + 1)) AS BIGINT) AS rs2,
         |         CAST(sum(CAST(wv AS HUGEINT) * wv * wv - wv) AS HUGEINT)
         |           AS tie
         |  FROM cums GROUP BY 1
         |), sc AS MATERIALIZED (
         |  SELECT lang, n_a, n_b, n_a + n_b AS nn,
         |         rs2 - n_a * (n_a + 1) AS u2_a, tie
         |  FROM per
         |)
         |SELECT lang, n_a, n_b, u2_a, CAST(tie AS VARCHAR) AS tie_term,
         |       CASE WHEN n_a > 0 AND n_b > 0 AND nn > 1
         |                 AND (CAST(n_a AS DOUBLE) * n_b / 3.0)
         |                     * (CAST(nn + 1 AS DOUBLE)
         |                        - CAST(tie AS DOUBLE)
         |                          / (CAST(nn AS DOUBLE) * (nn - 1))) > 0.0
         |            THEN CAST(u2_a - n_a * n_b AS DOUBLE)
         |                 / sqrt((CAST(n_a AS DOUBLE) * n_b / 3.0)
         |                        * (CAST(nn + 1 AS DOUBLE)
         |                           - CAST(tie AS DOUBLE)
         |                             / (CAST(nn AS DOUBLE) * (nn - 1))))
         |       END AS z,
         |       coalesce(CASE WHEN n_a > 0 AND n_b > 0 AND nn > 1
         |                 AND (CAST(n_a AS DOUBLE) * n_b / 3.0)
         |                     * (CAST(nn + 1 AS DOUBLE)
         |                        - CAST(tie AS DOUBLE)
         |                          / (CAST(nn AS DOUBLE) * (nn - 1))) > 0.0
         |            THEN abs(CAST(u2_a - n_a * n_b AS DOUBLE)
         |                 / sqrt((CAST(n_a AS DOUBLE) * n_b / 3.0)
         |                        * (CAST(nn + 1 AS DOUBLE)
         |                           - CAST(tie AS DOUBLE)
         |                             / (CAST(nn AS DOUBLE) * (nn - 1)))))
         |                 > $MwCritAlpha05
         |       END, FALSE) AS shifted
         |FROM sc
         |ORDER BY lang""".stripMargin,
    // q351's marker-scorer twin → 4×4 confusion census → margins via a
    // FULL class join → exact HUGEINT kappa pieces, three shared divides
    "q364_cohens_kappa" ->
      s"""WITH allsc AS MATERIALIZED (
         |  SELECT lang,
         |         ${markerCaseSql("fr")} AS predicted,
         |         $markerTotSql AS s_tot
         |  FROM (
         |    SELECT lang, $markerScoresSql
         |    FROM (SELECT lang, $toksSql AS toks FROM documents)
         |  )
         |), excl AS (
         |  SELECT ${sumLongSql("CASE WHEN s_tot = 0 THEN 1 ELSE 0 END")}
         |           AS n_unscored,
         |         ${sumLongSql("CASE WHEN s_tot > 0 AND lang NOT IN ('en','es','de','fr') THEN 1 ELSE 0 END")}
         |           AS n_foreign
         |  FROM allsc
         |), cells AS MATERIALIZED (
         |  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM allsc
         |  WHERE s_tot > 0 AND lang IN ('en','es','de','fr')
         |  GROUP BY 1, 2
         |), margins AS (
         |  SELECT CAST(coalesce(sum(CAST(coalesce(rk, 0) AS HUGEINT)
         |           * coalesce(ck, 0)), 0) AS HUGEINT) AS src
         |  FROM (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS rk
         |        FROM cells GROUP BY 1) r
         |  FULL JOIN (SELECT predicted, CAST(sum(n_docs) AS BIGINT) AS ck
         |             FROM cells GROUP BY 1) c
         |    ON r.lang = c.predicted
         |), tot AS (
         |  SELECT ${sumLongSql("n_docs")} AS nn,
         |         ${sumLongSql("CASE WHEN lang = predicted THEN n_docs ELSE 0 END")}
         |           AS diag
         |  FROM cells
         |), stats AS (
         |  SELECT nn AS n_scored, diag AS n_agree,
         |         ${ratioSql("diag", "nn")} AS po,
         |         CAST(src AS DOUBLE)
         |           / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)) AS pe,
         |         CASE WHEN CAST(nn AS HUGEINT) * nn - src <> 0
         |              THEN CAST(CAST(nn AS HUGEINT) * diag - src AS DOUBLE)
         |                / CAST(CAST(nn AS HUGEINT) * nn - src AS DOUBLE)
         |              ELSE 1.0 END AS kappa,
         |         n_unscored, n_foreign
         |  FROM tot, margins, excl
         |)
         |SELECT lang, predicted, n_docs, n_scored, n_agree, po, pe, kappa,
         |       n_unscored, n_foreign
         |FROM cells, stats
         |ORDER BY lang, predicted""".stripMargin,
    // the label × JL-grid-cell contingency census; all pair counting on
    // doubled sums (x·(x−1)), HUGEINT cross-multiplies, one divide each
    "q363_adjusted_rand_index" ->
      s"""WITH proj AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(0, 2), j ->
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(embedding, (x, i) ->
         |          (CASE WHEN CAST(('0x' || substr(md5('jl:'
         |                  || CAST(i - 1 AS VARCHAR) || ':'
         |                  || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
         |                THEN 1.0 ELSE -1.0 END) * CAST(x AS DOUBLE))),
         |        (a, v) -> a + v)) AS p
         |  FROM embeddings
         |), cont AS MATERIALIZED (
         |  SELECT e.label,
         |         concat_ws(':',
         |           CAST(CAST(floor(p[1] / $DbscanEps) AS BIGINT) AS VARCHAR),
         |           CAST(CAST(floor(p[2] / $DbscanEps) AS BIGINT) AS VARCHAR))
         |           AS cell,
         |         CAST(count(*) AS BIGINT) AS nij
         |  FROM proj
         |  JOIN (SELECT vec_id, label FROM embeddings) e USING (vec_id)
         |  GROUP BY 1, 2
         |), sij AS (
         |  SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS s2ij,
         |         CAST(sum(nij) AS BIGINT) AS n,
         |         CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
         |         CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
         |  FROM cont
         |), sa AS (
         |  SELECT CAST(sum(ai * (ai - 1)) AS BIGINT) AS s2a
         |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM cont GROUP BY label)
         |), sb AS (
         |  SELECT CAST(sum(bj * (bj - 1)) AS BIGINT) AS s2b
         |  FROM (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM cont GROUP BY cell)
         |), comb AS (
         |  SELECT n, n_labels, n_cells, s2ij, s2a, s2b,
         |         CAST(n AS HUGEINT) * (n - 1) AS p2,
         |         CAST(n AS HUGEINT) * (n - 1) - s2a - s2b + 2 * s2ij AS ri_num,
         |         2 * (CAST(n AS HUGEINT) * (n - 1) * s2ij
         |              - CAST(s2a AS HUGEINT) * s2b) AS ari_num,
         |         CAST(n AS HUGEINT) * (n - 1) * (s2a + s2b)
         |           - 2 * (CAST(s2a AS HUGEINT) * s2b) AS ari_den
         |  FROM sij, sa, sb
         |)
         |SELECT n, n_labels, n_cells, s2ij, s2a, s2b,
         |       CASE WHEN p2 > 0
         |            THEN CAST(ri_num AS DOUBLE) / CAST(p2 AS DOUBLE)
         |       END AS rand_index,
         |       CASE WHEN ari_den <> 0
         |            THEN CAST(ari_num AS DOUBLE) / CAST(ari_den AS DOUBLE)
         |            ELSE 1.0 END AS ari
         |FROM comb""".stripMargin,
    // exact-cosine and JL-cosine top-10s (q352 scan + q344 projection),
    // prefix intersections per depth, the integer coefficient fold, one
    // divide; the panel mean folds qid-sorted (q352's pattern)
    "q362_rbo_index_fidelity" -> {
      def dd(a: String, b: String): String =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list_transform($a, (x, i) -> x * ($b)[i])), (s2, v) -> s2 + v)""".stripMargin
      def dcosSql(a: String, b: String): String =
        s"(${dd(a, b)}) / (sqrt(${dd(a, a)}) * sqrt(${dd(b, b)}))"
      val xdTerms = RboCoef.zipWithIndex.map { case (cf, i) =>
        val d = i + 1
        s"$cf * CAST(len(list_intersect(s_ids[1:$d], t_ids[1:$d])) AS BIGINT)"
      }.mkString("\n         |         + ")
      s"""WITH proj AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(0, $JlDims), j ->
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(embedding, (x, i) ->
         |          (CASE WHEN CAST(('0x' || substr(md5('jl:'
         |                  || CAST(i - 1 AS VARCHAR) || ':'
         |                  || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
         |                THEN 1.0 ELSE -1.0 END) * CAST(x AS DOUBLE))),
         |        (a, v) -> a + v)) AS p
         |  FROM embeddings
         |), sarr AS MATERIALIZED (
         |  SELECT qid, list(vid ORDER BY rn) AS s_ids FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC,
         |                      c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < $IrEvalQueries) q
         |    JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id)
         |  WHERE rn <= $RboDepth GROUP BY 1
         |), tarr AS MATERIALIZED (
         |  SELECT qid, list(vid ORDER BY rn) AS t_ids FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${dcosSql("q.p", "c.p")} DESC,
         |                      c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM proj WHERE vec_id < $IrEvalQueries) q
         |    JOIN (SELECT * FROM proj) c ON q.vec_id <> c.vec_id)
         |  WHERE rn <= $RboDepth GROUP BY 1
         |), per AS MATERIALIZED (
         |  SELECT s.qid,
         |         CAST(len(list_intersect(s_ids[1:$RboDepth],
         |                                 t_ids[1:$RboDepth])) AS BIGINT)
         |           AS overlap_at_10,
         |         $xdTerms AS rbo_scaled
         |  FROM sarr s JOIN tarr t ON s.qid = t.qid
         |), sc AS MATERIALIZED (
         |  SELECT qid, overlap_at_10, rbo_scaled,
         |         ${ratioSql("rbo_scaled", RboScale.toString)} AS rbo
         |  FROM per
         |), panelg AS (
         |  SELECT CAST(len(gs) AS BIGINT) AS n_queries,
         |         CASE WHEN len(gs) > 0 THEN
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |             list_transform(gs, x -> x.r)), (a, b) -> a + b)
         |           / CAST(len(gs) AS DOUBLE) END AS mean_rbo
         |  FROM (SELECT list(struct_pack(qid := qid, r := rbo)
         |                 ORDER BY qid) AS gs FROM sc)
         |)
         |SELECT qid, overlap_at_10, rbo_scaled, rbo, n_queries, mean_rbo
         |FROM sc, panelg ORDER BY qid""".stripMargin
    },
    // q345's replay with the ε-derivation CTE ahead of it: the probe
    // census, the clamped lattice ε (√ is correctly-rounded IEEE — the
    // one float op before the exact dyadic ε), and the same recursive
    // reachability; the chosen ε rides the output
    "q361_dbscan_auto_eps" ->
      s"""WITH RECURSIVE proj AS MATERIALIZED (
         |  SELECT vec_id,
         |    list_transform(range(0, 2), j ->
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(embedding, (x, i) ->
         |          (CASE WHEN CAST(('0x' || substr(md5('jl:'
         |                  || CAST(i - 1 AS VARCHAR) || ':'
         |                  || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
         |                THEN 1.0 ELSE -1.0 END) * CAST(x AS DOUBLE))),
         |        (a, v) -> a + v)) AS p
         |  FROM embeddings
         |), pcen AS MATERIALIZED (
         |  SELECT floor(p[1] / $DbscanEps) AS px, floor(p[2] / $DbscanEps) AS py,
         |         CAST(count(*) AS BIGINT) AS pc
         |  FROM proj GROUP BY 1, 2
         |), epsc AS MATERIALIZED (
         |  SELECT occ, n,
         |         greatest($DbscanEpsMin, least($DbscanEpsMax,
         |           floor($DbscanEps * sqrt($DbscanTargetOcc *
         |             (CAST(occ AS DOUBLE) / CAST(n AS DOUBLE))) * 16.0)
         |             / 16.0)) AS eps
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS occ,
         |               CAST(sum(pc) AS BIGINT) AS n
         |        FROM pcen)
         |), pts AS MATERIALIZED (
         |  SELECT vec_id, p[1] AS y0, p[2] AS y1,
         |         CAST(floor(p[1] / eps) AS BIGINT) AS cx,
         |         CAST(floor(p[2] / eps) AS BIGINT) AS cy,
         |         eps * eps AS eps2
         |  FROM proj, epsc
         |), nbr AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM (SELECT pts.*, dx, dy FROM pts,
         |          (SELECT unnest([-1, 0, 1]) AS dx),
         |          (SELECT unnest([-1, 0, 1]) AS dy)) a
         |  JOIN pts b ON a.cx + a.dx = b.cx AND a.cy + a.dy = b.cy
         |  WHERE (a.y0 - b.y0) * (a.y0 - b.y0)
         |        + (a.y1 - b.y1) * (a.y1 - b.y1) <= a.eps2
         |), deg AS MATERIALIZED (
         |  SELECT ia, count(*) AS nn FROM nbr GROUP BY 1
         |), cores AS MATERIALIZED (
         |  SELECT ia AS v FROM deg WHERE nn >= $DbscanMinPts
         |), ce AS MATERIALIZED (
         |  SELECT ia, ib FROM nbr
         |  WHERE ia IN (SELECT v FROM cores) AND ib IN (SELECT v FROM cores)
         |), reach(v, r) AS (
         |  SELECT v, v FROM cores
         |  UNION
         |  SELECT x.v, e.ib FROM reach x JOIN ce e ON x.r = e.ia
         |), labels AS MATERIALIZED (
         |  SELECT v AS doc, CAST(min(r) AS BIGINT) AS lab
         |  FROM reach GROUP BY 1
         |), border AS MATERIALIZED (
         |  SELECT n.ia, CAST(min(l.lab) AS BIGINT) AS lab
         |  FROM nbr n JOIN labels l ON n.ib = l.doc
         |  WHERE n.ia IN (SELECT ia FROM deg WHERE nn < $DbscanMinPts)
         |  GROUP BY 1
         |), cc AS MATERIALIZED (
         |  SELECT lab, CAST(count(*) AS BIGINT) AS n_core FROM labels GROUP BY 1
         |), bc AS MATERIALIZED (
         |  SELECT lab, CAST(count(*) AS BIGINT) AS n_border FROM border GROUP BY 1
         |)
         |SELECT *, (SELECT eps FROM epsc) AS eps_chosen,
         |       (SELECT occ FROM epsc) AS probe_cells,
         |       (SELECT n FROM epsc) AS n_probe_points
         |FROM (
         |  SELECT cc.lab AS cluster_id, n_core,
         |         CAST(coalesce(n_border, 0) AS BIGINT) AS n_border,
         |         n_core + CAST(coalesce(n_border, 0) AS BIGINT) AS n_points
         |  FROM cc LEFT JOIN bc ON cc.lab = bc.lab
         |  UNION ALL
         |  SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         (SELECT CAST(count(*) AS BIGINT) FROM pts)
         |         - (SELECT CAST(coalesce(sum(n_core), 0) AS BIGINT) FROM cc)
         |         - (SELECT CAST(coalesce(sum(n_border), 0) AS BIGINT) FROM bc)
         |)
         |ORDER BY cluster_id""".stripMargin,
    "q349_textrank_keywords" ->
      s"""WITH ft AS (
         |  SELECT list_filter($toksSql, t -> len(t) >= $TrMinTokenLen) AS fts
         |  FROM documents
         |), prs AS (
         |  SELECT least(p.x, p.y) AS u, greatest(p.x, p.y) AS v
         |  FROM (SELECT unnest(list_filter(
         |          list_transform(fts, (a, i) ->
         |            struct_pack(x := a, y := fts[i+1])),
         |          p -> p.y IS NOT NULL AND p.x <> p.y)) AS p
         |        FROM ft)
         |), mult AS MATERIALIZED (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS m FROM prs GROUP BY 1, 2
         |), thr AS (
         |  SELECT CAST(min(CASE WHEN 2 * cum >= tot THEN mv END) AS BIGINT) AS thr
         |  FROM (SELECT mv, sum(n) OVER (ORDER BY mv) AS cum,
         |               sum(n) OVER () AS tot
         |        FROM (SELECT m AS mv, count(*) AS n FROM mult GROUP BY 1))
         |), e0 AS MATERIALIZED (
         |  SELECT u, v, m FROM mult, thr WHERE m >= thr
         |), e AS MATERIALIZED (
         |  SELECT u AS src, v AS dst, m FROM e0
         |  UNION ALL SELECT v AS src, u AS dst, m FROM e0
         |), st AS MATERIALIZED (
         |  SELECT src, CAST(sum(m) AS BIGINT) AS sw FROM e GROUP BY 1
         |), n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, CAST($TrScale AS BIGINT) AS r FROM n),
         |${trRoundSql(1)}, ${trRoundSql(2)}, ${trRoundSql(3)}
         |SELECT node AS keyword, r AS pr FROM r3
         |ORDER BY pr DESC, keyword ASC LIMIT 20""".stripMargin,
    "q348_bootstrap_ci" ->
      s"""WITH weighted AS (
         |  SELECT ntok, b,
         |         CAST(${poissonCaseSql("u")} AS BIGINT) AS w
         |  FROM (
         |    SELECT CAST(len($toksSql) AS BIGINT) AS ntok, b,
         |           CAST(('0x' || substr(md5('boot:'
         |               || CAST(doc_id AS VARCHAR) || ':'
         |               || CAST(b // 8 AS VARCHAR)),
         |             (b % 8) * 4 + 1, 4)) AS BIGINT) AS u
         |    FROM documents, (SELECT unnest(range(0, $BootB)) AS b))
         |), ests AS (
         |  SELECT ${ratioSql("num", "den")} AS est
         |  FROM (SELECT b, CAST(sum(w * ntok) AS BIGINT) AS num,
         |               CAST(sum(w) AS BIGINT) AS den
         |        FROM weighted GROUP BY 1)
         |  WHERE den > 0
         |), arr AS (
         |  SELECT list(est ORDER BY est) AS xs FROM ests
         |), point AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         ${ratioSql(sumLongSql(s"CAST(len($toksSql) AS BIGINT)"),
                             "count(*)")} AS est_point
         |  FROM documents
         |)
         |SELECT n_docs, CAST(len(xs) AS BIGINT) AS b_count, est_point,
         |       xs[1] AS boot_min,
         |       xs[(len(xs) + 1) // 2] AS boot_median,
         |       xs[len(xs)] AS boot_max,
         |       est_point >= xs[1] AND est_point <= xs[len(xs)]
         |         AS point_in_band
         |FROM arr, point
         |WHERE len(xs) > 0""".stripMargin,
    "q347_quantile_normalization" ->
      s"""WITH base AS (
         |  SELECT source, CAST(len($toksSql) AS BIGINT) AS ntok
         |  FROM documents
         |), cen AS MATERIALIZED (
         |  SELECT source, ntok, CAST(count(*) AS BIGINT) AS c
         |  FROM base GROUP BY 1, 2
         |), src AS (
         |  SELECT source, ntok, c,
         |         CAST(sum(c) OVER (PARTITION BY source ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_s,
         |         CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n_s
         |  FROM cen
         |), pool AS MATERIALIZED (
         |  SELECT v, CAST(sum(pc) OVER (ORDER BY v
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_p,
         |         CAST(sum(pc) OVER () AS BIGINT) AS n_p
         |  FROM (SELECT ntok AS v, CAST(sum(c) AS BIGINT) AS pc
         |        FROM cen GROUP BY 1)
         |)
         |SELECT source, ntok, CAST(max(c) AS BIGINT) AS n_docs,
         |       CAST(min(v) AS BIGINT) AS norm_ntok
         |FROM src JOIN pool ON cum_p * n_s >= cum_s * n_p
         |GROUP BY 1, 2
         |ORDER BY source, ntok""".stripMargin,
    "q344_jl_projection_census" ->
      // DuckDB's 1-based lambda index ↔ Spark's 0-based: the sign-matrix
      // key uses (i − 1); peer-element access b[i] replaces zip_with.
      // Squares are computed per element then left-fold-summed — the
      // identical IEEE sequence to the Spark aggregate.
      s"""WITH proj AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    list_transform(range(0, $JlDims), j ->
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(embedding, (x, i) ->
         |          (CASE WHEN CAST(('0x' || substr(md5('jl:'
         |                  || CAST(i - 1 AS VARCHAR) || ':'
         |                  || CAST(j AS VARCHAR)), 1, 4)) AS BIGINT) % 2 = 0
         |                THEN 1.0 ELSE -1.0 END) * CAST(x AS DOUBLE))),
         |        (a, v) -> a + v)) AS p
         |  FROM embeddings
         |), stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |         CAST(sum(CAST(floor(p[1] * 1048576.0) AS BIGINT)) AS BIGINT)
         |           AS proj_checksum
         |  FROM proj
         |), panel AS MATERIALIZED (
         |  SELECT * FROM proj WHERE vec_id < 64
         |), pairs AS (
         |  SELECT CASE WHEN do2 > 0 THEN dp2 / (do2 * ${JlDims.toDouble}) END AS ratio
         |  FROM (
         |    SELECT
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(a.embedding, (x, i) ->
         |          (CAST(x AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
         |          * (CAST(x AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE)))),
         |        (s, v) -> s + v) AS do2,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_transform(a.p, (x, i) ->
         |          (x - b.p[i]) * (x - b.p[i]))),
         |        (s, v) -> s + v) AS dp2
         |    FROM (SELECT * FROM panel) a JOIN (SELECT * FROM panel) b
         |      ON a.vec_id < b.vec_id)
         |)
         |SELECT CAST(floor(ratio * 4.0) AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       min(ratio) AS min_ratio, max(ratio) AS max_ratio,
         |       (SELECT n_vectors FROM stats) AS n_vectors,
         |       (SELECT proj_checksum FROM stats) AS proj_checksum
         |FROM pairs
         |GROUP BY 1
         |ORDER BY bucket""".stripMargin,
    // q76's recursive-CTE component chain + the two split censuses; the
    // cluster_aware straddle count is RECOMPUTED (and equals 0), not
    // asserted.
    "q328_leakage_safe_split" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val aList = MinhashA.mkString("[", ", ", "]")
      val bList = MinhashB.mkString("[", ", ", "]")
      def digSql(e: String) =
        s"CAST(('0x' || substr(md5('split:' || CAST($e AS VARCHAR)), 1, 10)) AS BIGINT)"
      s"""WITH RECURSIVE keyed AS (
         |  SELECT doc_id, j AS band,
         |         md5(CAST(sig[3*j+1] AS VARCHAR) || ',' || CAST(sig[3*j+2] AS VARCHAR) || ',' || CAST(sig[3*j+3] AS VARCHAR)) AS bkey
         |  FROM (
         |    SELECT doc_id,
         |           list_transform(range(12), j2 -> list_min(list_transform(hs, h -> ($aList[CAST(j2 AS INT)+1] * h + $bList[CAST(j2 AS INT)+1]) % $MinhashPrime))) AS sig
         |    FROM (
         |      SELECT doc_id, $shingle3Sql AS hs
         |      FROM (
         |        SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |      )
         |    )
         |  ), (SELECT unnest([0,1,2,3]) AS j)
         |), edges AS (
         |  SELECT a.doc_id AS s, b.doc_id AS t
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2
         |), reach(doc, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT x.doc, e.t FROM reach x JOIN edges e ON x.r = e.s
         |), labels AS (
         |  SELECT doc, min(r) AS lab FROM reach GROUP BY doc
         |), f AS (
         |  SELECT doc_id, coalesce(lab, doc_id) AS lab
         |  FROM documents LEFT JOIN labels ON doc_id = doc
         |), marked AS (
         |  SELECT lab,
         |         (${digSql("doc_id")} % 10 = 0) AS naive_test,
         |         (${digSql("lab")} % 10 = 0) AS aware_test
         |  FROM f
         |), per AS (
         |  SELECT lab, count(*) AS n,
         |         ${sumLongSql("CASE WHEN naive_test THEN 1 ELSE 0 END")} AS ntn,
         |         ${sumLongSql("CASE WHEN aware_test THEN 1 ELSE 0 END")} AS nta
         |  FROM marked GROUP BY 1
         |)
         |SELECT scheme, n_test, n_train, n_clusters_multi, n_straddling FROM (
         |  SELECT 'naive' AS scheme,
         |         ${sumLongSql("ntn")} AS n_test,
         |         ${sumLongSql("n - ntn")} AS n_train,
         |         ${sumLongSql("CASE WHEN n >= 2 THEN 1 ELSE 0 END")} AS n_clusters_multi,
         |         ${sumLongSql("CASE WHEN n >= 2 AND ntn > 0 AND ntn < n THEN 1 ELSE 0 END")} AS n_straddling
         |  FROM per
         |  UNION ALL
         |  SELECT 'cluster_aware' AS scheme,
         |         ${sumLongSql("nta")},
         |         ${sumLongSql("n - nta")},
         |         ${sumLongSql("CASE WHEN n >= 2 THEN 1 ELSE 0 END")},
         |         ${sumLongSql("CASE WHEN n >= 2 AND nta > 0 AND nta < n THEN 1 ELSE 0 END")}
         |  FROM per
         |)
         |ORDER BY scheme""".stripMargin
    },
    "q327_bitext_margin_mining" -> {
      val meanSql = "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), cs), (a, x) -> a + x) / CAST(len(cs) AS DOUBLE))"
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id, lang, embedding
         |  FROM embeddings JOIN documents ON vec_id = doc_id
         |), keyed AS MATERIALIZED (
         |  SELECT vec_id, lang, embedding, band,
         |         array_to_string(list_transform(embedding[(8*band+1):(8*band+8)],
         |           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |  FROM base, (SELECT unnest([0,1,2,3]) AS band)
         |), cand AS (
         |  SELECT en_id, de_id, max(pcos) AS cos FROM (
         |    SELECT a.vec_id AS en_id, b.vec_id AS de_id,
         |           ${cosSql("a.embedding", "b.embedding")} AS pcos
         |    FROM keyed a JOIN keyed b ON a.band = b.band AND a.key = b.key
         |    WHERE a.lang = 'en' AND b.lang = 'de'
         |  ) WHERE pcos > 0
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT en_id, de_id, cos,
         |         row_number() OVER (PARTITION BY en_id
         |                            ORDER BY cos DESC, de_id ASC) AS rn
         |  FROM cand
         |), agg AS (
         |  SELECT en_id,
         |         first(de_id ORDER BY rn) AS de_id,
         |         first(cos ORDER BY rn) AS cos,
         |         list(cos ORDER BY rn) AS cs
         |  FROM ranked WHERE rn <= $BitextK GROUP BY 1
         |)
         |SELECT en_id, de_id, cos, cos / $meanSql AS margin,
         |       (cos / $meanSql >= 1.05) AS accepted
         |FROM agg
         |ORDER BY margin DESC, en_id ASC
         |LIMIT 20""".stripMargin
    },
    "q324_shard_manifest" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |         substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 10) AS hhex,
         |         CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) AS hkey,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok,
         |         CAST(('0x' || substr(md5(concat_ws(chr(1),
         |           CAST(doc_id AS VARCHAR), lang, source,
         |           CAST(n_chars AS VARCHAR), text)), 1, 10)) AS BIGINT) AS digest
         |  FROM documents
         |), a AS (
         |  SELECT *, CAST(hkey % $NShards AS INT) AS shard_id FROM r
         |), c AS (
         |  SELECT *, CAST(sum(n_tok) OVER (PARTITION BY shard_id
         |           ORDER BY hkey, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
         |  FROM a
         |)
         |SELECT shard_id, count(*) AS n_docs, ${sumLongSql("n_tok")} AS sum_tok,
         |       CAST(max((cum_tok - n_tok) // $PackBudget) + 1 AS BIGINT) AS n_bins,
         |       bit_xor(digest) AS xor_check,
         |       CAST(CAST(sum(digest) AS HUGEINT) % $ChecksumMod AS BIGINT) AS sum_check,
         |       min(concat(hhex, ':', lpad(CAST(doc_id AS VARCHAR), 12, '0'))) AS first_member
         |FROM c GROUP BY shard_id ORDER BY shard_id""".stripMargin,
    "q325_quality_filter_inference" ->
      s"""WITH $qfPerDocSql
         |SELECT lang, count(*) AS n_docs,
         |       ${sumLongSql("CASE WHEN score_bits * tnb > ts * nb THEN 1 ELSE 0 END")} AS n_selected,
         |       ${sumLongSql("score_bits")} AS sum_score_bits,
         |       ${ratioSql("sum(CASE WHEN score_bits * tnb > ts * nb THEN 1 ELSE 0 END)", "count(*)")} AS sel_rate
         |FROM perdoc, calib GROUP BY lang ORDER BY lang""".stripMargin,
    // the shared q325 per-doc chain + the shared q131 vote fragment →
    // 2×2 discordance census → two shared divides; squared numerators
    // HUGEINT → VARCHAR-routed
    "q396_mcnemar_filter_ab" ->
      s"""WITH $qfPerDocSql,
         |qfvotes AS (
         |  SELECT doc_id, score_bits * tnb > ts * nb AS keep
         |  FROM perdoc, calib
         |),
         |$lmKeepVoteSql,
         |v AS (
         |  SELECT coalesce(a.keep, FALSE) AS ka, coalesce(b.keep, FALSE) AS kb
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN lmvotes a USING (doc_id)
         |  LEFT JOIN qfvotes b USING (doc_id)
         |), g AS (
         |  SELECT count(*) AS n_docs,
         |         ${sumLongSql("CASE WHEN ka AND kb THEN 1 ELSE 0 END")} AS n_both_keep,
         |         ${sumLongSql("CASE WHEN NOT ka AND NOT kb THEN 1 ELSE 0 END")} AS n_both_drop,
         |         ${sumLongSql("CASE WHEN ka AND NOT kb THEN 1 ELSE 0 END")} AS n_a_only,
         |         ${sumLongSql("CASE WHEN NOT ka AND kb THEN 1 ELSE 0 END")} AS n_b_only
         |  FROM v
         |)
         |SELECT n_docs, n_both_keep, n_both_drop, n_a_only, n_b_only,
         |       ${ratioSql("n_both_keep + n_a_only", "n_docs")} AS keep_rate_a,
         |       ${ratioSql("n_both_keep + n_b_only", "n_docs")} AS keep_rate_b,
         |       CASE WHEN n_a_only + n_b_only > 0 THEN
         |         CAST(CAST(CAST(n_a_only - n_b_only AS HUGEINT)
         |                   * (n_a_only - n_b_only) AS VARCHAR) AS DOUBLE)
         |           / CAST(n_a_only + n_b_only AS DOUBLE) END AS chi2_mcnemar,
         |       CASE WHEN n_a_only + n_b_only > 0 THEN
         |         CAST(CAST(CAST(greatest(abs(n_a_only - n_b_only) - 1, 0) AS HUGEINT)
         |                   * greatest(abs(n_a_only - n_b_only) - 1, 0) AS VARCHAR) AS DOUBLE)
         |           / CAST(n_a_only + n_b_only AS DOUBLE) END AS chi2_cc,
         |       coalesce(CASE WHEN n_a_only + n_b_only > 0 THEN
         |         CAST(CAST(CAST(n_a_only - n_b_only AS HUGEINT)
         |                   * (n_a_only - n_b_only) AS VARCHAR) AS DOUBLE)
         |           / CAST(n_a_only + n_b_only AS DOUBLE)
         |           > ${Chi2Crit95.head} END, FALSE) AS filters_differ
         |FROM g""".stripMargin,
    // the q405 fof census → exact dyadic-band interval overlaps →
    // weighted integer OLS (HUGEINT → VARCHAR under the gate)
    "q416_zipf_slope" -> {
      val ddSql = "CAST(CAST(CAST(w AS HUGEINT) * sxx " +
        "- CAST(sx AS HUGEINT) * sx AS VARCHAR) AS DOUBLE)"
      val slopeSql = "CAST(CAST(CAST(w AS HUGEINT) * sxy " +
        s"- CAST(sx AS HUGEINT) * sy AS VARCHAR) AS DOUBLE) / $ddSql"
      s"""WITH cnts AS MATERIALIZED (
         |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS r
         |  FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), fof AS MATERIALIZED (
         |  SELECT lang, r, CAST(count(*) AS BIGINT) AS fr
         |  FROM cnts GROUP BY 1, 2
         |), ranked AS (
         |  SELECT lang, r, fr,
         |         CAST(coalesce(sum(fr) OVER (PARTITION BY lang
         |           ORDER BY r DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cb
         |  FROM fof
         |), pts AS (
         |  SELECT lang, CAST(b AS BIGINT) AS x,
         |         CAST(length(bin(r)) AS BIGINT) AS y,
         |         greatest(0, least(cb + fr, (CAST(1 AS BIGINT) << b) - 1)
         |                      - greatest(cb + 1,
         |                                 CAST(1 AS BIGINT) << (b - 1)) + 1)
         |           AS cnt
         |  FROM ranked, (SELECT unnest(range(1, 41)) AS b)
         |), m AS (
         |  SELECT lang, ${sumLongSql("cnt")} AS w,
         |         CAST(count(*) AS BIGINT) AS n_points,
         |         ${sumLongSql("cnt * x")} AS sx,
         |         ${sumLongSql("cnt * y")} AS sy,
         |         ${sumLongSql("cnt * x * x")} AS sxx,
         |         ${sumLongSql("cnt * x * y")} AS sxy
         |  FROM pts WHERE cnt > 0 GROUP BY 1
         |)
         |SELECT lang, w AS n_types, n_points,
         |       CASE WHEN CAST(w AS HUGEINT) * sxx
         |                 - CAST(sx AS HUGEINT) * sx > 0
         |            THEN $slopeSql END AS zipf_slope_bits,
         |       CASE WHEN CAST(w AS HUGEINT) * sxx
         |                 - CAST(sx AS HUGEINT) * sx > 0
         |            THEN (CAST(sy AS DOUBLE) - ($slopeSql)
         |                    * CAST(sx AS DOUBLE)) / CAST(w AS DOUBLE)
         |       END AS intercept_bits
         |FROM m ORDER BY lang""".stripMargin
    },
    // value census → cleared-denominator central moments (HUGEINT →
    // VARCHAR) → the q387 three-sqrt skew tree + two-cast kurtosis
    "q413_jarque_bera" -> {
      val d2d = "CAST(CAST(d2 AS VARCHAR) AS DOUBLE)"
      val skewSql = s"(sqrt(CAST(n AS DOUBLE)) " +
        s"* CAST(CAST(d3 AS VARCHAR) AS DOUBLE)) " +
        s"/ (sqrt($d2d) * sqrt($d2d) * sqrt($d2d))"
      val kurtSql = "CAST(CAST(CAST(n AS HUGEINT) * d4 AS VARCHAR) " +
        s"AS DOUBLE) / ($d2d * $d2d)"
      val jbSql = s"CAST(n AS DOUBLE) * (($skewSql) * ($skewSql) / 6.0 " +
        s"+ (($kurtSql) - 3.0) * (($kurtSql) - 3.0) / 24.0)"
      s"""WITH census AS MATERIALIZED (
         |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS v,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang, ${sumLongSql("c")} AS n,
         |         CAST(sum(CAST(c AS HUGEINT) * v) AS HUGEINT) AS sv
         |  FROM census GROUP BY 1
         |), mom AS (
         |  SELECT census.lang, max(n) AS n,
         |         CAST(sum(CAST(c AS HUGEINT) * d * d) AS HUGEINT) AS d2,
         |         CAST(sum(CAST(c AS HUGEINT) * d * d * d) AS HUGEINT) AS d3,
         |         CAST(sum(CAST(c AS HUGEINT) * d * d * d * d) AS HUGEINT)
         |           AS d4
         |  FROM (SELECT census.lang, n, c,
         |               CAST(n AS HUGEINT) * v - sv AS d
         |        FROM census JOIN tot ON tot.lang = census.lang) census
         |  GROUP BY 1
         |)
         |SELECT lang, n AS n_docs, CAST(d2 AS VARCHAR) AS m2_num,
         |       CASE WHEN n > 1 AND d2 > 0 THEN $skewSql END AS skewness,
         |       CASE WHEN n > 1 AND d2 > 0 THEN $kurtSql END AS kurtosis,
         |       CASE WHEN n > 1 AND d2 > 0 THEN $jbSql END AS jb_stat,
         |       coalesce(CASE WHEN n > 1 AND d2 > 0
         |                THEN $jbSql > ${Chi2Crit95(1)} END, FALSE)
         |         AS nonnormal
         |FROM mom ORDER BY lang""".stripMargin
    },
    // per-lang token counts → frequency-of-frequencies → exact
    // Chao1 rational (f1² HUGEINT → VARCHAR under the gate)
    "q405_chao1_richness" ->
      s"""WITH cnts AS MATERIALIZED (
         |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS r
         |  FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), fof AS (
         |  SELECT lang, r, CAST(count(*) AS BIGINT) AS fr
         |  FROM cnts GROUP BY 1, 2
         |), g AS (
         |  SELECT lang,
         |         ${sumLongSql("fr")} AS n_types,
         |         ${sumLongSql("r * fr")} AS n_tokens,
         |         ${sumLongSql("CASE WHEN r = 1 THEN fr ELSE 0 END")} AS f1,
         |         ${sumLongSql("CASE WHEN r = 2 THEN fr ELSE 0 END")} AS f2
         |  FROM fof GROUP BY 1
         |)
         |SELECT lang, n_tokens, n_types, f1, f2,
         |       CASE WHEN f2 > 0 THEN
         |         CAST(n_types AS DOUBLE)
         |           + CAST(CAST(CAST(f1 AS HUGEINT) * f1 AS VARCHAR) AS DOUBLE)
         |             / CAST(2 * f2 AS DOUBLE)
         |       ELSE
         |         CAST(n_types AS DOUBLE)
         |           + CAST(CAST(CAST(f1 AS HUGEINT) * (f1 - 1) AS VARCHAR)
         |                  AS DOUBLE) / 2.0
         |       END AS chao1
         |FROM g ORDER BY lang""".stripMargin,
    // the same fof census → the r = 1..4 smoothed-count ladder, each
    // r* one shared divide; P0 = f1/N rides per lang
    "q406_good_turing_mass" ->
      s"""WITH cnts AS MATERIALIZED (
         |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS r
         |  FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), fof AS MATERIALIZED (
         |  SELECT lang, r, CAST(count(*) AS BIGINT) AS fr
         |  FROM cnts GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang,
         |         ${sumLongSql("r * fr")} AS n_tokens,
         |         ${sumLongSql("fr")} AS n_types,
         |         ${sumLongSql("CASE WHEN r = 1 THEN fr ELSE 0 END")} AS f1
         |  FROM fof GROUP BY 1
         |), ladder AS (
         |  SELECT g.lang, g.r,
         |         CAST(coalesce(a.fr, 0) AS BIGINT) AS f_r,
         |         CAST(coalesce(b.fr, 0) AS BIGINT) AS f_r_next
         |  FROM (SELECT t.lang, rr.r FROM tot t,
         |          (SELECT unnest(range(1, 5)) AS r) rr) g
         |  LEFT JOIN fof a ON a.lang = g.lang AND a.r = g.r
         |  LEFT JOIN fof b ON b.lang = g.lang AND b.r = g.r + 1
         |)
         |SELECT l.lang, l.r, l.f_r, l.f_r_next,
         |       t.n_tokens, t.n_types, t.f1,
         |       CASE WHEN t.n_tokens > 0
         |            THEN ${ratioSql("t.f1", "t.n_tokens")} END AS p0_unseen,
         |       CASE WHEN l.f_r > 0
         |            THEN CAST((l.r + 1) * l.f_r_next AS DOUBLE)
         |                 / CAST(l.f_r AS DOUBLE) END AS r_star
         |FROM ladder l JOIN tot t ON t.lang = l.lang
         |ORDER BY l.lang, l.r""".stripMargin,
    // the shared drift split → value census → census-ordered CDF gaps ×
    // value gaps in HUGEINT (VARCHAR-routed), one shared divide
    "q418_wasserstein_drift" ->
      s"""WITH $driftNtokCensusSql, cums AS (
         |  SELECT ntok,
         |         sum(nav) OVER (ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_a,
         |         sum(nbv) OVER (ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum_b,
         |         lead(ntok) OVER (ORDER BY ntok) AS next_v
         |  FROM census
         |), tot AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b,
         |         CAST(count(*) AS BIGINT) AS n_values
         |  FROM census
         |), g AS (
         |  SELECT coalesce(sum(abs(CAST(cum_a AS HUGEINT) * n_b
         |                           - CAST(cum_b AS HUGEINT) * n_a)
         |                       * (next_v - ntok)),
         |                  CAST(0 AS HUGEINT)) AS w1_num
         |  FROM cums, tot
         |  WHERE next_v IS NOT NULL
         |)
         |SELECT n_a, n_b, n_values, CAST(w1_num AS VARCHAR) AS w1_num,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(CAST(w1_num AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR)
         |                  AS DOUBLE) END AS wasserstein_1
         |FROM g, tot""".stripMargin,
    // the same census → ONE census×census pass folding the three
    // |u−v|-weighted sums exactly, then the fixed three-divide tree
    "q419_energy_distance_drift" -> {
      val d2Sql = "2.0 * (CAST(CAST(sab AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR) AS DOUBLE)) " +
        "- CAST(CAST(saa AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_a AS HUGEINT) * n_a AS VARCHAR) AS DOUBLE) " +
        "- CAST(CAST(sbb AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_b AS HUGEINT) * n_b AS VARCHAR) AS DOUBLE)"
      s"""WITH $driftNtokCensusSql, pr AS (
         |  SELECT coalesce(sum(CAST(a.nav AS HUGEINT) * b.nbv
         |                      * abs(a.ntok - b.ntok)),
         |                  CAST(0 AS HUGEINT)) AS sab,
         |         coalesce(sum(CAST(a.nav AS HUGEINT) * b.nav
         |                      * abs(a.ntok - b.ntok)),
         |                  CAST(0 AS HUGEINT)) AS saa,
         |         coalesce(sum(CAST(a.nbv AS HUGEINT) * b.nbv
         |                      * abs(a.ntok - b.ntok)),
         |                  CAST(0 AS HUGEINT)) AS sbb
         |  FROM census a, census b
         |), tot AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b
         |  FROM census
         |)
         |SELECT n_a, n_b,
         |       CAST(sab AS VARCHAR) AS sab_num,
         |       CAST(saa AS VARCHAR) AS saa_num,
         |       CAST(sbb AS VARCHAR) AS sbb_num,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN $d2Sql END AS energy_d2,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR) AS DOUBLE)
         |           / CAST(n_a + n_b AS DOUBLE) * ($d2Sql) END AS energy_t
         |FROM pr, tot""".stripMargin
    },
    // the same census → one moment agg → exact variance numerators →
    // the fixed three-divide Welch t / Satterthwaite df trees
    "q420_welch_ttest_drift" -> {
      val raSql = "(CAST(CAST(va_num AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_a AS HUGEINT) * n_a * (n_a - 1) AS VARCHAR) " +
        "AS DOUBLE))"
      val rbSql = "(CAST(CAST(vb_num AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_b AS HUGEINT) * n_b * (n_b - 1) AS VARCHAR) " +
        "AS DOUBLE))"
      val mdSql = "(CAST(CAST(s1a * n_b - s1b * n_a AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR) AS DOUBLE))"
      val tSql = s"($mdSql / sqrt($raSql + $rbSql))"
      val dfSql = s"(($raSql + $rbSql) * ($raSql + $rbSql) " +
        s"/ ($raSql * $raSql / CAST(n_a - 1 AS DOUBLE) " +
        s"+ $rbSql * $rbSql / CAST(n_b - 1 AS DOUBLE)))"
      val okSql = "n_a > 1 AND n_b > 1 AND (va_num > 0 OR vb_num > 0)"
      s"""WITH $driftNtokCensusSql, g AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b,
         |         coalesce(sum(CAST(nav AS HUGEINT) * ntok),
         |                  CAST(0 AS HUGEINT)) AS s1a,
         |         coalesce(sum(CAST(nav AS HUGEINT) * ntok * ntok),
         |                  CAST(0 AS HUGEINT)) AS s2a,
         |         coalesce(sum(CAST(nbv AS HUGEINT) * ntok),
         |                  CAST(0 AS HUGEINT)) AS s1b,
         |         coalesce(sum(CAST(nbv AS HUGEINT) * ntok * ntok),
         |                  CAST(0 AS HUGEINT)) AS s2b
         |  FROM census
         |), v AS (
         |  SELECT n_a, n_b, s1a, s1b,
         |         CAST(n_a AS HUGEINT) * s2a - s1a * s1a AS va_num,
         |         CAST(n_b AS HUGEINT) * s2b - s1b * s1b AS vb_num
         |  FROM g
         |)
         |SELECT n_a, n_b,
         |       CAST(va_num AS VARCHAR) AS va_num,
         |       CAST(vb_num AS VARCHAR) AS vb_num,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN $mdSql END AS mean_diff,
         |       CASE WHEN $okSql THEN $tSql END AS t_welch,
         |       CASE WHEN $okSql THEN $dfSql END AS df_welch,
         |       coalesce(CASE WHEN $okSql
         |                THEN abs($tSql) > $MwCritAlpha05 END, FALSE)
         |         AS shifted
         |FROM v""".stripMargin
    },
    // the same census → weighted pairwise-difference census → exact
    // lower-median rank selection
    "q428_hodges_lehmann_shift" ->
      s"""WITH $driftNtokCensusSql, diffs AS MATERIALIZED (
         |  SELECT a.ntok - b.ntok AS diff,
         |         ${sumLongSql("a.nav * b.nbv")} AS w
         |  FROM census a, census b
         |  WHERE a.nav > 0 AND b.nbv > 0
         |  GROUP BY 1
         |), np AS (
         |  SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS n_pairs FROM diffs
         |), tot AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b
         |  FROM census
         |), hl AS (
         |  SELECT min(CASE WHEN cum >= (n_pairs + 1) // 2
         |                   AND (n_pairs + 1) // 2 >= 1 THEN diff END)
         |           AS hl_shift_tokens
         |  FROM (SELECT diff,
         |               CAST(sum(w) OVER (ORDER BY diff
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                 AS BIGINT) AS cum
         |        FROM diffs), np
         |)
         |SELECT n_a, n_b, n_pairs, hl_shift_tokens
         |FROM hl, np, tot""".stripMargin,
    // the shared drift split → value census → census×census dominance
    // fold in HUGEINT (VARCHAR-routed), one shared divide, the literal
    // magnitude CASE tree
    "q403_cliffs_delta_drift" -> {
      val deltaExpr = "CAST(CAST(gt - lt AS VARCHAR) AS DOUBLE) " +
        "/ CAST(CAST(CAST(n_a AS HUGEINT) * n_b AS VARCHAR) AS DOUBLE)"
      s"""WITH census AS MATERIALIZED (
         |  SELECT ntok,
         |         ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS nav,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS nbv
         |  FROM (
         |    SELECT CAST(len($toksSql) AS BIGINT) AS ntok,
         |           $driftHalfSql AS in_a
         |    FROM documents)
         |  GROUP BY 1
         |), tot AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b
         |  FROM census
         |), pr AS (
         |  SELECT coalesce(sum(CASE WHEN a.ntok > b.ntok
         |                  THEN CAST(a.nav AS HUGEINT) * b.nbv END),
         |                  CAST(0 AS HUGEINT)) AS gt,
         |         coalesce(sum(CASE WHEN a.ntok < b.ntok
         |                  THEN CAST(a.nav AS HUGEINT) * b.nbv END),
         |                  CAST(0 AS HUGEINT)) AS lt
         |  FROM census a, census b
         |)
         |SELECT n_a, n_b,
         |       CAST(gt AS VARCHAR) AS gt_num, CAST(lt AS VARCHAR) AS lt_num,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN $deltaExpr END
         |         AS cliffs_delta,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CASE WHEN abs($deltaExpr) < 0.147 THEN 'negligible'
         |              WHEN abs($deltaExpr) < 0.33 THEN 'small'
         |              WHEN abs($deltaExpr) < 0.474 THEN 'medium'
         |              ELSE 'large' END
         |       ELSE 'undefined' END AS magnitude
         |FROM pr, tot""".stripMargin
    },
    // the three shared vote fragments union-tagged → 3-key census →
    // the literal-z Wilson trees
    "q417_wilson_keep_rates" -> {
      val pSql = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
      val z = s"$MwCritAlpha05"
      val centerSql = s"($pSql + $z * $z / (2.0 * CAST(n AS DOUBLE)))"
      val halfSql = s"($z * sqrt($pSql * (1.0 - $pSql) / CAST(n AS DOUBLE)" +
        s" + $z * $z / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))"
      val denomSql = s"(1.0 + $z * $z / CAST(n AS DOUBLE))"
      s"""WITH $qfPerDocSql,
         |qfvotes AS (
         |  SELECT doc_id, score_bits * tnb > ts * nb AS keep
         |  FROM perdoc, calib
         |),
         |$lmKeepVoteSql,
         |$rulesKeepVoteSql,
         |tagged AS (
         |  SELECT 'lm_unigram' AS filter, coalesce(a.keep, FALSE) AS keep
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN lmvotes a USING (doc_id)
         |  UNION ALL
         |  SELECT 'gopher_rules', coalesce(r.keep, FALSE)
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN rulesvotes r USING (doc_id)
         |  UNION ALL
         |  SELECT 'learned_qf', coalesce(q.keep, FALSE)
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN qfvotes q USING (doc_id)
         |), g AS (
         |  SELECT filter, CAST(count(*) AS BIGINT) AS n,
         |         ${sumLongSql("CASE WHEN keep THEN 1 ELSE 0 END")} AS k
         |  FROM tagged GROUP BY 1
         |)
         |SELECT filter, n AS n_docs, k AS n_keep,
         |       CASE WHEN n > 0 THEN $pSql END AS keep_rate,
         |       CASE WHEN n > 0 THEN ($centerSql - $halfSql) / $denomSql END
         |         AS wilson_lo,
         |       CASE WHEN n > 0 THEN ($centerSql + $halfSql) / $denomSql END
         |         AS wilson_hi,
         |       CASE WHEN n > 0 THEN
         |         ($centerSql + $halfSql) / $denomSql
         |           - ($centerSql - $halfSql) / $denomSql END AS ci_width
         |FROM g ORDER BY filter""".stripMargin
    },
    // the three shared vote fragments → ONE 6-cell moment agg → the
    // shared Q divide (squares HUGEINT → VARCHAR under the gate)
    "q402_cochran_q_filters" -> {
      val qexpr = "CAST(CAST(2 * (3 * (CAST(ga AS HUGEINT) * ga " +
        "+ CAST(gr AS HUGEINT) * gr + CAST(gl AS HUGEINT) * gl) " +
        "- CAST(t AS HUGEINT) * t) AS VARCHAR) AS DOUBLE) " +
        "/ CAST(3 * t - l2 AS DOUBLE)"
      s"""WITH $qfPerDocSql,
         |qfvotes AS (
         |  SELECT doc_id, score_bits * tnb > ts * nb AS keep
         |  FROM perdoc, calib
         |),
         |$lmKeepVoteSql,
         |$rulesKeepVoteSql,
         |v AS (
         |  SELECT CASE WHEN coalesce(a.keep, FALSE) THEN 1 ELSE 0 END AS va,
         |         CASE WHEN coalesce(r.keep, FALSE) THEN 1 ELSE 0 END AS vr,
         |         CASE WHEN coalesce(q.keep, FALSE) THEN 1 ELSE 0 END AS vl
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN lmvotes a USING (doc_id)
         |  LEFT JOIN rulesvotes r USING (doc_id)
         |  LEFT JOIN qfvotes q USING (doc_id)
         |), g AS (
         |  SELECT count(*) AS n_docs,
         |         ${sumLongSql("va")} AS ga, ${sumLongSql("vr")} AS gr,
         |         ${sumLongSql("vl")} AS gl,
         |         ${sumLongSql("va + vr + vl")} AS t,
         |         ${sumLongSql("(va + vr + vl) * (va + vr + vl)")} AS l2
         |  FROM v
         |)
         |SELECT n_docs, ga AS keeps_lm, gr AS keeps_rules,
         |       gl AS keeps_learned, t AS sum_votes,
         |       CASE WHEN 3 * t - l2 > 0 THEN $qexpr END AS chi2_cochran,
         |       coalesce(CASE WHEN 3 * t - l2 > 0
         |                THEN $qexpr > ${Chi2Crit95(1)} END, FALSE)
         |         AS raters_differ
         |FROM g""".stripMargin
    },
    // all three shared vote fragments → k-vote census → exact
    // cleared-denominator kappa (HUGEINT → VARCHAR under the gate)
    "q397_fleiss_kappa_ensemble" ->
      s"""WITH $qfPerDocSql,
         |qfvotes AS (
         |  SELECT doc_id, score_bits * tnb > ts * nb AS keep
         |  FROM perdoc, calib
         |),
         |$lmKeepVoteSql,
         |$rulesKeepVoteSql,
         |v AS (
         |  SELECT (CASE WHEN coalesce(a.keep, FALSE) THEN 1 ELSE 0 END
         |          + CASE WHEN coalesce(r.keep, FALSE) THEN 1 ELSE 0 END
         |          + CASE WHEN coalesce(q.keep, FALSE) THEN 1 ELSE 0 END)
         |           AS k_keep
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN lmvotes a USING (doc_id)
         |  LEFT JOIN rulesvotes r USING (doc_id)
         |  LEFT JOIN qfvotes q USING (doc_id)
         |), census AS MATERIALIZED (
         |  SELECT CAST(k_keep AS BIGINT) AS k_keep, count(*) AS n_docs
         |  FROM v GROUP BY 1
         |), mom AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
         |         CAST(sum(k_keep * n_docs) AS BIGINT) AS kk,
         |         CAST(sum(k_keep * k_keep * n_docs) AS BIGINT) AS qq
         |  FROM census
         |), st AS (
         |  SELECT nn AS n_docs_total, kk AS n_keep_votes,
         |         ${ratioSql("kk", "3 * nn")} AS p_keep,
         |         ${ratioSql("2 * qq - 6 * kk + 6 * nn", "6 * nn")} AS pbar,
         |         CAST(CAST(CAST(kk AS HUGEINT) * kk
         |                   + CAST(3 * nn - kk AS HUGEINT) * (3 * nn - kk)
         |              AS VARCHAR) AS DOUBLE)
         |           / (CAST(3 * nn AS DOUBLE) * CAST(3 * nn AS DOUBLE))
         |           AS pbar_e,
         |         CASE WHEN 2 * (CAST(3 * nn AS HUGEINT) * (3 * nn)
         |                        - (CAST(kk AS HUGEINT) * kk
         |                           + CAST(3 * nn - kk AS HUGEINT)
         |                             * (3 * nn - kk))) <> 0 THEN
         |           CAST(CAST(CAST(3 * nn AS HUGEINT)
         |                       * (2 * qq - 6 * kk + 6 * nn)
         |                     - 2 * (CAST(kk AS HUGEINT) * kk
         |                            + CAST(3 * nn - kk AS HUGEINT)
         |                              * (3 * nn - kk))
         |                AS VARCHAR) AS DOUBLE)
         |             / CAST(CAST(2 * (CAST(3 * nn AS HUGEINT) * (3 * nn)
         |                              - (CAST(kk AS HUGEINT) * kk
         |                                 + CAST(3 * nn - kk AS HUGEINT)
         |                                   * (3 * nn - kk)))
         |                    AS VARCHAR) AS DOUBLE)
         |         ELSE 1.0 END AS fleiss_kappa
         |  FROM mom
         |)
         |SELECT c.k_keep, c.n_docs, st.*
         |FROM census c, st
         |ORDER BY c.k_keep""".stripMargin,
    // the q397 vote join → one 3-cell moment agg → the cleared-
    // denominator alpha tree (HUGEINT squares VARCHAR-routed)
    "q424_krippendorff_alpha" -> {
      val twoPdSql = "2 * CAST(kk AS HUGEINT) * (3 * nn - kk)"
      val aNumSql = s"$twoPdSql - CAST(3 * nn - 1 AS HUGEINT) * sdis"
      val alphaSql = s"(CAST(CAST($aNumSql AS VARCHAR) AS DOUBLE) " +
        s"/ CAST(CAST($twoPdSql AS VARCHAR) AS DOUBLE))"
      s"""WITH $qfPerDocSql,
         |qfvotes AS (
         |  SELECT doc_id, score_bits * tnb > ts * nb AS keep
         |  FROM perdoc, calib
         |),
         |$lmKeepVoteSql,
         |$rulesKeepVoteSql,
         |v AS (
         |  SELECT (CASE WHEN coalesce(a.keep, FALSE) THEN 1 ELSE 0 END
         |          + CASE WHEN coalesce(r.keep, FALSE) THEN 1 ELSE 0 END
         |          + CASE WHEN coalesce(q.keep, FALSE) THEN 1 ELSE 0 END)
         |           AS k
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN lmvotes a USING (doc_id)
         |  LEFT JOIN rulesvotes r USING (doc_id)
         |  LEFT JOIN qfvotes q USING (doc_id)
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn,
         |         CAST(coalesce(sum(k), 0) AS BIGINT) AS kk,
         |         CAST(coalesce(sum(k * (3 - k)), 0) AS BIGINT) AS sdis
         |  FROM v
         |)
         |SELECT nn AS n_docs, kk AS n_keep_votes, sdis AS s_disagree,
         |       CASE WHEN nn > 0 THEN ${ratioSql("sdis", "3 * nn")} END
         |         AS d_observed,
         |       CASE WHEN nn > 0 AND 3 * nn > 1 THEN
         |         CAST(CAST($twoPdSql AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(CAST(3 * nn AS HUGEINT) * (3 * nn - 1)
         |                  AS VARCHAR) AS DOUBLE) END AS d_expected,
         |       CASE WHEN $twoPdSql > 0 THEN $alphaSql END AS kripp_alpha,
         |       coalesce(CASE WHEN $twoPdSql > 0 THEN $alphaSql >= 0.8 END,
         |                FALSE) AS reliable
         |FROM g""".stripMargin
    },
    // (term, doc) tf pass → term moments with zero-docs implicit →
    // total-order top-K → exact VMR divide + cross-multiplied flag
    "q425_term_burstiness" -> {
      val varNumSql = "CAST(nn AS HUGEINT) * s2 - CAST(tot AS HUGEINT) * tot"
      val vmrDenSql = "CAST(nn - 1 AS HUGEINT) * tot"
      s"""WITH tf AS (
         |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), top AS (
         |  SELECT tok, ${sumLongSql("c")} AS tot,
         |         sum(CAST(c AS HUGEINT) * c) AS s2,
         |         CAST(count(*) AS BIGINT) AS df
         |  FROM tf GROUP BY 1
         |  ORDER BY tot DESC, tok ASC LIMIT $BurstTopK
         |), nd AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
         |SELECT tok AS term, df AS n_docs_with, tot AS n_occurrences,
         |       CAST($varNumSql AS VARCHAR) AS var_num,
         |       CASE WHEN nn > 1 AND tot > 0 THEN
         |         CAST(CAST($varNumSql AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST($vmrDenSql AS VARCHAR) AS DOUBLE) END AS vmr,
         |       coalesce(CASE WHEN nn > 1 AND tot > 0 THEN
         |                $varNumSql > 2 * ($vmrDenSql) END, FALSE) AS bursty
         |FROM top, nd
         |ORDER BY n_occurrences DESC, term ASC""".stripMargin
    },
    // three integer score censuses → doubled-midrank joins back →
    // one R2 moment agg → the tie-corrected single-divide W tree
    "q430_kendall_w_proxies" -> {
      def censusSql(c: String) =
        s"(SELECT $c AS v, CAST(count(*) AS BIGINT) AS w " +
          s"FROM base GROUP BY 1)"
      def rankSql(c: String) =
        s"""SELECT b.doc_id, 2 * (x.cum - x.w) + x.w + 1 AS r
           |   FROM base b JOIN (
           |     SELECT v, w, CAST(sum(w) OVER (ORDER BY v
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |       AS BIGINT) AS cum
           |     FROM ${censusSql(c)}) x ON b.$c = x.v""".stripMargin
      def tieSql(c: String) =
        s"(SELECT coalesce(sum(CAST(w AS HUGEINT) * w * w - w), " +
          s"CAST(0 AS HUGEINT)) FROM ${censusSql(c)})"
      val denSql = "(3 * (CAST(n AS HUGEINT) * n * n - n) - t)"
      val wSql = "(CAST(CAST(sr22 - 9 * CAST(n AS HUGEINT) * (n + 1) " +
        "* (n + 1) AS VARCHAR) AS DOUBLE) " +
        s"/ CAST(CAST($denSql AS VARCHAR) AS DOUBLE))"
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS sa,
         |         CAST(length(text) AS BIGINT) AS sb,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS sc
         |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |), ra AS (${rankSql("sa")}
         |), rb AS (${rankSql("sb")}
         |), rc AS (${rankSql("sc")}
         |), ties AS (
         |  SELECT ${tieSql("sa")} + ${tieSql("sb")} + ${tieSql("sc")} AS t
         |), r AS (
         |  SELECT ra.r + rb.r + rc.r AS r2
         |  FROM ra JOIN rb USING (doc_id) JOIN rc USING (doc_id)
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(coalesce(sum(r2), 0) AS BIGINT) AS sum_r2,
         |         coalesce(sum(CAST(r2 AS HUGEINT) * r2),
         |                  CAST(0 AS HUGEINT)) AS sr22
         |  FROM r
         |)
         |SELECT n AS n_docs, sum_r2,
         |       CAST(sr22 - 9 * CAST(n AS HUGEINT) * (n + 1) * (n + 1)
         |            AS VARCHAR) AS s2_num,
         |       CAST(t AS VARCHAR) AS tie_term,
         |       CASE WHEN $denSql > 0 THEN $wSql END AS kendall_w,
         |       CASE WHEN $denSql > 0 THEN
         |         3.0 * CAST(n - 1 AS DOUBLE) * $wSql END AS chi2_friedman
         |FROM g, ties""".stripMargin
    },
    // one 10-moment agg → exact variance/covariance numerators →
    // the single-divide raw alpha + the q414 two-sqrt r trees
    "q432_cronbach_alpha" -> {
      def vn(sq: String, sm: String) =
        s"(CAST(n AS HUGEINT) * $sq - CAST($sm AS HUGEINT) * $sm)"
      def cn(sxy: String, sx: String, sy: String) =
        s"(CAST(n AS HUGEINT) * $sxy - CAST($sx AS HUGEINT) * $sy)"
      val (va, vb, vc) = (vn("aa", "xa"), vn("bb", "xb"), vn("cc", "xc"))
      val (cab, cac, cbc) =
        (cn("ab", "xa", "xb"), cn("ac", "xa", "xc"), cn("bc", "xb", "xc"))
      val vt = s"($va + $vb + $vc + 2 * ($cab + $cac + $cbc))"
      def r(c: String, v1: String, v2: String) =
        s"""CASE WHEN $v1 > 0 AND $v2 > 0 THEN
           |  CAST(CAST($c AS VARCHAR) AS DOUBLE) /
           |    (sqrt(CAST(CAST($v1 AS VARCHAR) AS DOUBLE)) *
           |     sqrt(CAST(CAST($v2 AS VARCHAR) AS DOUBLE))) END""".stripMargin
      val rbar = "((r_ab + r_ac + r_bc) / 3.0)"
      s"""WITH base AS (
         |  SELECT CAST(len(toks) AS BIGINT) AS sa,
         |         CAST(length(text) AS BIGINT) AS sb,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS sc
         |  FROM (SELECT text, $toksSql AS toks FROM documents)
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         ${sumLongSql("sa")} AS xa, ${sumLongSql("sb")} AS xb,
         |         ${sumLongSql("sc")} AS xc,
         |         sum(CAST(sa AS HUGEINT) * sa) AS aa,
         |         sum(CAST(sb AS HUGEINT) * sb) AS bb,
         |         sum(CAST(sc AS HUGEINT) * sc) AS cc,
         |         sum(CAST(sa AS HUGEINT) * sb) AS ab,
         |         sum(CAST(sa AS HUGEINT) * sc) AS ac,
         |         sum(CAST(sb AS HUGEINT) * sc) AS bc
         |  FROM base
         |), derived AS (
         |  SELECT n, CAST($vt AS VARCHAR) AS vt_num,
         |         CAST($va + $vb + $vc AS VARCHAR) AS items_var_num,
         |         CASE WHEN $vt > 0 THEN
         |           CAST(CAST(3 * ($cab + $cac + $cbc) AS VARCHAR) AS DOUBLE)
         |             / CAST(CAST($vt AS VARCHAR) AS DOUBLE) END
         |           AS cronbach_alpha,
         |         ${r(cab, va, vb)} AS r_ab,
         |         ${r(cac, va, vc)} AS r_ac,
         |         ${r(cbc, vb, vc)} AS r_bc
         |  FROM g
         |)
         |SELECT n AS n_docs, vt_num, items_var_num, cronbach_alpha,
         |       r_ab, r_ac, r_bc,
         |       CASE WHEN r_ab IS NOT NULL AND r_ac IS NOT NULL
         |                 AND r_bc IS NOT NULL
         |                 AND 1.0 + 2.0 * $rbar <> 0.0 THEN
         |         3.0 * $rbar / (1.0 + 2.0 * $rbar) END AS alpha_std
         |FROM derived""".stripMargin
    },
    // one 5-moment agg → the single-divide population-form CCC +
    // the q414 two-sqrt Pearson tree and one C_b divide
    "q433_lin_ccc" -> {
      val vx = "(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)"
      val vy = "(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)"
      val cxy = "(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)"
      val den = s"($vx + $vy + (CAST(sx AS HUGEINT) - sy) * " +
        "(CAST(sx AS HUGEINT) - sy))"
      s"""WITH g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         ${sumLongSql("x")} AS sx, ${sumLongSql("y")} AS sy,
         |         sum(CAST(x AS HUGEINT) * x) AS sxx,
         |         sum(CAST(y AS HUGEINT) * y) AS syy,
         |         sum(CAST(x AS HUGEINT) * y) AS sxy
         |  FROM (SELECT CAST(n_chars AS BIGINT) AS x,
         |               CAST(len($toksSql) AS BIGINT) * $CharsPerTok AS y
         |        FROM documents)
         |), derived AS (
         |  SELECT n AS n_docs, sx AS sum_chars, sy AS sum_est,
         |         CAST($vx AS VARCHAR) AS vx_num,
         |         CAST($vy AS VARCHAR) AS vy_num,
         |         CAST($cxy AS VARCHAR) AS cxy_num,
         |         CASE WHEN $den > 0 THEN
         |           CAST(CAST(2 * $cxy AS VARCHAR) AS DOUBLE)
         |             / CAST(CAST($den AS VARCHAR) AS DOUBLE) END AS lin_ccc,
         |         CASE WHEN $vx > 0 AND $vy > 0 THEN
         |           CAST(CAST($cxy AS VARCHAR) AS DOUBLE) /
         |             (sqrt(CAST(CAST($vx AS VARCHAR) AS DOUBLE)) *
         |              sqrt(CAST(CAST($vy AS VARCHAR) AS DOUBLE))) END
         |           AS pearson_r
         |  FROM g
         |)
         |SELECT *, CASE WHEN pearson_r IS NOT NULL AND pearson_r <> 0.0
         |               THEN lin_ccc / pearson_r END AS c_b
         |FROM derived""".stripMargin
    },
    // one 3-moment agg over the diff column → the fixed-IEEE limit
    // tree broadcast to the outside-count re-scan
    "q434_bland_altman" -> {
      val vnum = "(CAST(n AS HUGEINT) * sd2 - CAST(sd1 AS HUGEINT) * sd1)"
      s"""WITH diffs AS MATERIALIZED (
         |  SELECT CAST(n_chars AS BIGINT)
         |           - CAST(len($toksSql) AS BIGINT) * $CharsPerTok AS d
         |  FROM documents
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         ${sumLongSql("d")} AS sd1,
         |         sum(CAST(d AS HUGEINT) * d) AS sd2
         |  FROM diffs
         |), stats AS (
         |  SELECT n, sd1, CAST($vnum AS VARCHAR) AS vnum,
         |         CASE WHEN n > 0 THEN ${ratioSql("sd1", "n")} END
         |           AS mean_diff,
         |         CASE WHEN n > 1 THEN
         |           sqrt(CAST(CAST($vnum AS VARCHAR) AS DOUBLE) /
         |             CAST(CAST(CAST(n AS HUGEINT) * (n - 1) AS VARCHAR)
         |                  AS DOUBLE)) END AS sd_diff
         |  FROM g
         |), outside AS (
         |  SELECT ${sumLongSql(
        "CASE WHEN sd_diff IS NOT NULL AND " +
          "abs(CAST(n * d - sd1 AS DOUBLE)) > 1.96 * sd_diff * " +
          "CAST(n AS DOUBLE) THEN 1 ELSE 0 END")} AS n_outside
         |  FROM diffs, stats
         |)
         |SELECT n AS n_docs, sd1 AS sum_diff, vnum AS var_num,
         |       mean_diff, sd_diff,
         |       CASE WHEN sd_diff IS NOT NULL THEN
         |         mean_diff - 1.96 * sd_diff END AS lo_limit,
         |       CASE WHEN sd_diff IS NOT NULL THEN
         |         mean_diff + 1.96 * sd_diff END AS hi_limit,
         |       n_outside,
         |       CASE WHEN n > 0 THEN ${ratioSql("n_outside", "n")} END
         |         AS frac_outside
         |FROM stats, outside""".stripMargin
    },
    // the shared fof census → one 3-moment agg per lang → the
    // single-divide K and unbiased-D trees
    "q435_yule_k" ->
      s"""WITH cnts AS (
         |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS r
         |  FROM (SELECT lang, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY 1, 2
         |), fof AS (
         |  SELECT lang, r, CAST(count(*) AS BIGINT) AS fr
         |  FROM cnts GROUP BY 1, 2
         |), g AS (
         |  SELECT lang, ${sumLongSql("r * fr")} AS m1,
         |         ${sumLongSql("fr")} AS n_types,
         |         sum(CAST(r AS HUGEINT) * r * fr) AS m2
         |  FROM fof GROUP BY 1
         |)
         |SELECT lang, m1 AS n_tokens, n_types, CAST(m2 AS VARCHAR) AS m2,
         |       CASE WHEN m1 > 0 THEN
         |         CAST(CAST(10000 * (m2 - CAST(m1 AS HUGEINT)) AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(CAST(m1 AS HUGEINT) * m1 AS VARCHAR)
         |                  AS DOUBLE) END AS yule_k,
         |       CASE WHEN m1 > 1 THEN
         |         CAST(CAST(m2 - CAST(m1 AS HUGEINT) AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(CAST(m1 AS HUGEINT) * m1 - m1 AS VARCHAR)
         |                  AS DOUBLE) END AS simpson_repeat
         |FROM g
         |ORDER BY lang""".stripMargin,
    // the shared q131 vote chain → a <=40-row dyadic band census →
    // one 5-moment fold → the three-factor fixed-IEEE Z tree
    "q436_cochran_armitage" -> {
      val num = "(CAST(nn AS HUGEINT) * t - CAST(a AS HUGEINT) * sc1)"
      val cvar = "(CAST(nn AS HUGEINT) * sc2 - CAST(sc1 AS HUGEINT) * sc1)"
      val z = s"(CAST(CAST($num AS VARCHAR) AS DOUBLE) / " +
        s"sqrt(CAST(CAST(CAST(a AS HUGEINT) * (nn - a) AS VARCHAR) " +
        s"AS DOUBLE) * (CAST(CAST($cvar AS VARCHAR) AS DOUBLE) " +
        "/ CAST(nn AS DOUBLE))))"
      val ok = s"a > 0 AND a < nn AND $cvar > 0"
      s"""WITH $lmKeepVoteSql,
         |bands AS (
         |  SELECT CAST(length(bin(n_toks)) AS BIGINT) AS s1,
         |         CAST(count(*) AS BIGINT) AS n,
         |         ${sumLongSql("CASE WHEN keep THEN 1 ELSE 0 END")} AS kk
         |  FROM lmvotes GROUP BY 1
         |), g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_bands,
         |         ${sumLongSql("n")} AS nn, ${sumLongSql("kk")} AS a,
         |         ${sumLongSql("s1 * kk")} AS t,
         |         ${sumLongSql("s1 * n")} AS sc1,
         |         ${sumLongSql("s1 * s1 * n")} AS sc2
         |  FROM bands
         |)
         |SELECT n_bands, nn AS n_docs, a AS n_keep, t AS t_stat,
         |       CAST($num AS VARCHAR) AS trend_num,
         |       CAST($cvar AS VARCHAR) AS cvar_num,
         |       CASE WHEN $ok THEN $z END AS z_trend,
         |       coalesce(CASE WHEN $ok THEN abs($z) > $MwCritAlpha05 END,
         |                FALSE) AS trending,
         |       CASE WHEN $ok THEN
         |         CASE WHEN $num > 0 THEN 'longer_kept_more'
         |              WHEN $num < 0 THEN 'shorter_kept_more'
         |              ELSE 'none' END
         |       ELSE 'none' END AS direction
         |FROM g""".stripMargin
    },
    "q221_bigram_coverage" ->
      // MATERIALIZED: dt is read by both the model and the test side —
      // inlined, DuckDB would re-run the md5 digest pipeline per reference
      // (the q202 soak lesson).
      s"""WITH dt AS MATERIALIZED (
         |  SELECT doc_id, list_distinct($shingle2Sql) AS bsh
         |  FROM (SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |), model AS MATERIALIZED (
         |  SELECT sh FROM (SELECT unnest(bsh) AS sh FROM dt WHERE doc_id % 2 = 0)
         |  GROUP BY 1 HAVING count(*) >= 2
         |), test AS (
         |  SELECT doc_id, CAST(len(bsh) AS BIGINT) AS n_bi, unnest(bsh) AS sh
         |  FROM dt WHERE doc_id % 2 = 1 AND len(bsh) > 0
         |)
         |SELECT doc_id, n_bi,
         |       CAST(sum(CASE WHEN model.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cov,
         |       ${ratioSql("sum(CASE WHEN model.sh IS NOT NULL THEN 1 ELSE 0 END)", "n_bi")} AS coverage
         |FROM test LEFT JOIN model ON test.sh = model.sh
         |GROUP BY 1, 2
         |ORDER BY coverage ASC, doc_id ASC
         |LIMIT 25""".stripMargin,
    "q223_containment_dedup" ->
      s"""WITH ex AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(dshin) AS BIGINT) AS nsh, unnest(dshin) AS sh
         |  FROM (SELECT doc_id, list_distinct($shingle3Sql) AS dshin
         |        FROM (SELECT doc_id, $tokenHashesSql AS th
         |              FROM (SELECT doc_id, $toksSql AS toks FROM documents)))
         |), okx AS MATERIALIZED (
         |  SELECT e.* FROM ex e
         |  JOIN (SELECT sh FROM ex GROUP BY sh HAVING count(*) <= $JaccardDfCap) d
         |    ON e.sh = d.sh
         |)
         |SELECT doc1, doc2, n1, n2, common,
         |       ${ratioSql("common", "n1")} AS containment
         |FROM (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |         a.nsh AS n1, b.nsh AS n2, count(*) AS common
         |  FROM okx a JOIN okx b
         |    ON a.sh = b.sh AND a.doc_id <> b.doc_id AND a.nsh <= b.nsh
         |  GROUP BY 1, 2, 3, 4
         |)
         |WHERE common * 5 >= n1 * 4
         |ORDER BY containment DESC, doc1 ASC, doc2 ASC
         |LIMIT 20""".stripMargin,
    "q210_kwic_context" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |e AS (
         |  SELECT toks, unnest(toks) AS tok,
         |         generate_subscripts(toks, 1) AS pos
         |  FROM t
         |)
         |SELECT CASE WHEN pos = 1 THEN '^' ELSE toks[pos - 1] END AS prev_tok,
         |       CASE WHEN pos = len(toks) THEN '$$' ELSE toks[pos + 1] END AS next_tok,
         |       count(*) AS n_occ
         |FROM e
         |WHERE tok = 'spark'
         |GROUP BY 1, 2
         |ORDER BY n_occ DESC, prev_tok ASC, next_tok ASC
         |LIMIT 20""".stripMargin,
    "q204_setsim_prefix_join" ->
      s"""WITH dt AS (
         |  SELECT doc_id, unnest(list_distinct($shingle3Sql)) AS sh
         |  FROM (SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |), sdf AS (SELECT sh, count(*) AS df FROM dt GROUP BY 1),
         |pre AS (
         |  SELECT doc_id, sh, n FROM (
         |    SELECT dt.doc_id, dt.sh,
         |           count(*) OVER (PARTITION BY dt.doc_id) AS n,
         |           row_number() OVER (PARTITION BY dt.doc_id
         |                              ORDER BY sdf.df ASC, dt.sh ASC) AS rk
         |    FROM dt JOIN sdf ON dt.sh = sdf.sh)
         |  WHERE rk <= n - ((n + 1) // 2) + 1
         |), cand AS (
         |  SELECT DISTINCT a.doc1, b.doc2, a.n1, b.n2
         |  FROM (SELECT doc_id AS doc1, n AS n1, sh FROM pre) a
         |  JOIN (SELECT doc_id AS doc2, n AS n2, sh FROM pre) b USING (sh)
         |  WHERE a.doc1 < b.doc2 AND a.n1 <= 2 * b.n2 AND b.n2 <= 2 * a.n1
         |), inter AS (
         |  SELECT doc1, doc2, n1, n2, count(*) AS common
         |  FROM cand
         |  JOIN (SELECT doc_id AS doc1, sh FROM dt) t1 USING (doc1)
         |  JOIN (SELECT doc_id AS doc2, sh FROM dt) t2 USING (doc2, sh)
         |  GROUP BY 1, 2, 3, 4
         |)
         |SELECT doc1, doc2, common,
         |       ${ratioSql("common", "n1 + n2 - common")} AS jac
         |FROM inter
         |WHERE common * 2 >= n1 + n2 - common
         |ORDER BY jac DESC, doc1 ASC, doc2 ASC LIMIT 20""".stripMargin,
    "q181_dense_id_assignment" ->
      s"""SELECT tok, freq,
         |       CAST(row_number() OVER (ORDER BY freq DESC, tok ASC) AS BIGINT) AS dense_id
         |FROM (SELECT tok, CAST(count(*) AS BIGINT) AS freq
         |      FROM (SELECT unnest($toksSql) AS tok FROM documents)
         |      GROUP BY tok)
         |ORDER BY dense_id""".stripMargin,
    "q300_pq_codebook_census" ->
      s"""WITH $qvSql, ${pqPipeSql("_1", 1, 32)}, ${pqPipeSql("_2", 33, 64)}
         |SELECT CAST(s1.code % $PqK AS INT) * $PqK + CAST(s2.code % $PqK AS INT)
         |         AS pq_code,
         |       count(*) AS n_members,
         |       CAST(sum(s1.code // $PqK + s2.code // $PqK) AS BIGINT)
         |         AS sum_sqdist,
         |       min(s1.vec_id) AS min_vec
         |FROM a2_1 s1 JOIN a2_2 s2 ON s1.vec_id = s2.vec_id
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    // q330: the full IVF-PQ replay — 8 generated Lloyd sub-pipelines
    // (q300's machinery at 8×8 dims), coarse cells (q53's CTEs), the
    // per-query ADC distance tables as 4-entry integer lists, the
    // shortlist window, the exact cosine re-rank, and the recall compare
    // (recall_ok literal TRUE — the q70 contract).
    "q330_ann_ivf_pq_adc" -> {
      val m = PqAdcM
      val pipes = (0 until m)
        .map(j => pqPipeSql(s"_b$j", j * 8 + 1, j * 8 + 8)).mkString(", ")
      val codeCols = (0 until m)
        .map(j => s"a$j.code % $PqK AS c$j").mkString(", ")
      val codeJoins = (1 until m)
        .map(j => s"JOIN a2_b$j a$j ON a$j.vec_id = a0.vec_id")
        .mkString("\n         |  ")
      def sqd(mm: Int, j: Int) =
        s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
           |             list_transform(range(1, 9),
           |               i -> CAST(s$mm.q[i] - pv$mm.m$j[i] AS BIGINT)
           |                    * (s$mm.q[i] - pv$mm.m$j[i]))),
           |           (a, b) -> a + b)""".stripMargin
      val dtCols = (0 until m).map(mm =>
        s"[${(0 until PqK).map(j => sqd(mm, j)).mkString(",\n           ")}] AS dt$mm")
        .mkString(",\n         ")
      val qdtJoins = (1 until m)
        .map(j => s"JOIN sub_b$j s$j ON s$j.vec_id = s0.vec_id")
        .mkString("\n         |  ")
      val pvList = (0 until m).map(j => s"p1_b$j pv$j").mkString(", ")
      val adcSum = (0 until m)
        .map(j => s"qdt.dt$j[CAST(codes.c$j + 1 AS INT)]").mkString(" + ")
      s"""WITH $qvSql, $pipes,
         |codes AS MATERIALIZED (
         |  SELECT a0.vec_id, $codeCols FROM a2_b0 a0
         |  $codeJoins
         |),
         |qdt AS MATERIALIZED (
         |  SELECT s0.vec_id AS qid,
         |         $dtCols
         |  FROM sub_b0 s0
         |  $qdtJoins, $pvList
         |  WHERE s0.vec_id < 10
         |),
         |cents AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16
         |), assigned AS MATERIALIZED (
         |  SELECT vec_id, cid, embedding FROM (
         |    SELECT e.vec_id, cents.cid, e.embedding,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosSql("e.embedding", "cents.ce")} DESC, cents.cid ASC) AS rnc
         |    FROM (SELECT * FROM embeddings) e CROSS JOIN cents
         |  ) WHERE rnc = 1
         |), cand AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid, ($adcSum) AS adc
         |  FROM (SELECT * FROM assigned WHERE vec_id < 10) q
         |  JOIN assigned c ON q.cid = c.cid AND q.vec_id <> c.vec_id
         |  JOIN codes ON codes.vec_id = c.vec_id
         |  JOIN qdt ON qdt.qid = q.vec_id
         |), sl AS MATERIALIZED (
         |  SELECT qid, vid, adc FROM (
         |    SELECT qid, vid, adc, row_number() OVER (PARTITION BY qid
         |             ORDER BY adc ASC, vid ASC) AS rn50 FROM cand
         |  ) WHERE rn50 <= $AdcShortlistK
         |), top3 AS MATERIALIZED (
         |  SELECT qid, rn, vid, adc_dist, cos FROM (
         |    SELECT sl.qid, sl.vid, sl.adc AS adc_dist,
         |           ${cosSql("qe.embedding", "ce.embedding")} AS cos,
         |           row_number() OVER (PARTITION BY sl.qid
         |             ORDER BY ${cosSql("qe.embedding", "ce.embedding")} DESC,
         |                      sl.vid ASC) AS rn
         |    FROM sl
         |    JOIN (SELECT * FROM embeddings) qe ON qe.vec_id = sl.qid
         |    JOIN (SELECT * FROM embeddings) ce ON ce.vec_id = sl.vid
         |  ) WHERE rn <= 3
         |), exact3 AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
         |    JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id
         |  ) WHERE rn <= 3
         |), rec AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_expected,
         |         CAST(coalesce(sum(hit), 0) AS BIGINT) AS hits
         |  FROM (
         |    SELECT CASE WHEN t.vid IS NOT NULL THEN 1 ELSE 0 END AS hit
         |    FROM exact3 e LEFT JOIN top3 t ON t.qid = e.qid AND t.vid = e.vid
         |  )
         |)
         |SELECT qid, CAST(rn AS INT) AS rn, vid,
         |       CAST(adc_dist AS BIGINT) AS adc_dist, cos, hits,
         |       ${ratioSql("hits", "n_expected")} AS recall_at_3,
         |       TRUE AS recall_ok
         |FROM top3, rec
         |ORDER BY qid, rn""".stripMargin
    },
    "q336_isotonic_calibration" ->
      s"""WITH bins AS MATERIALIZED (
         |  SELECT x, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS npos
         |  FROM (
         |    SELECT CAST(len(list_filter($toksSql,
         |             t -> t IN (${markerInSql("en")}))) AS BIGINT) AS x,
         |           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |    FROM documents
         |  )
         |  GROUP BY 1
         |), intervals AS MATERIALIZED (
         |  SELECT j.x AS j, k.x AS k,
         |         CAST(sum(m.npos) AS DOUBLE) / CAST(sum(m.n) AS DOUBLE) AS r
         |  FROM bins j JOIN bins k ON j.x <= k.x
         |  JOIN bins m ON m.x >= j.x AND m.x <= k.x
         |  GROUP BY 1, 2
         |), fit AS (
         |  SELECT bx, max(mr) AS iso_rate FROM (
         |    SELECT b.x AS bx, i.j AS j, min(i.r) AS mr
         |    FROM bins b JOIN intervals i ON i.j <= b.x AND i.k >= b.x
         |    GROUP BY 1, 2
         |  )
         |  GROUP BY 1
         |)
         |SELECT bins.x AS score, n, npos,
         |       CAST(npos AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
         |       iso_rate
         |FROM bins JOIN fit ON fit.bx = bins.x
         |ORDER BY score""".stripMargin,
    "q335_conformal_threshold" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok,
         |         $driftHalfSql AS in_a
         |  FROM documents
         |), ca AS MATERIALIZED (
         |  SELECT lang, ntok, CAST(count(*) AS BIGINT) AS c
         |  FROM base WHERE in_a GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_cal,
         |         CAST(((100 - $ConformalAlphaPct) * (sum(c) + 1) + 99) // 100
         |              AS BIGINT) AS k_rank
         |  FROM ca GROUP BY 1
         |), tau AS MATERIALIZED (
         |  SELECT cum.lang, max(n_cal) AS n_cal, max(k_rank) AS k_rank,
         |         min(CASE WHEN cum >= k_rank THEN ntok END) AS tau
         |  FROM (
         |    SELECT lang, ntok,
         |           CAST(sum(c) OVER (PARTITION BY lang ORDER BY ntok
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             AS BIGINT) AS cum
         |    FROM ca
         |  ) cum JOIN tot ON cum.lang = tot.lang
         |  GROUP BY 1
         |), bt AS (
         |  SELECT lang, ntok, CAST(count(*) AS BIGINT) AS c
         |  FROM base WHERE NOT in_a GROUP BY 1, 2
         |), cov AS (
         |  SELECT tau.lang, max(n_cal) AS n_cal, max(k_rank) AS k_rank,
         |         max(tau) AS tau,
         |         CAST(coalesce(sum(c), 0) AS BIGINT) AS n_test,
         |         CAST(coalesce(sum(CASE WHEN tau IS NULL OR bt.ntok <= tau
         |                                THEN c ELSE 0 END), 0) AS BIGINT)
         |           AS n_covered
         |  FROM tau LEFT JOIN bt ON bt.lang = tau.lang
         |  GROUP BY 1
         |)
         |SELECT lang, n_cal, k_rank, tau, n_test, n_covered,
         |       CASE WHEN n_test > 0 THEN
         |         CAST(n_covered AS DOUBLE) / n_test END AS coverage,
         |       coalesce(CASE WHEN n_test > 0 THEN
         |         CAST(n_covered AS DOUBLE) / n_test >= $ConformalCovFloor
         |       END, FALSE) AS coverage_ok
         |FROM cov
         |ORDER BY lang""".stripMargin,
    "q334_neyman_allocation" ->
      s"""WITH strata AS MATERIALIZED (
         |  SELECT lang, band, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(ntok) AS BIGINT) AS st,
         |         CAST(sum(ntok * ntok) AS BIGINT) AS ssq
         |  FROM (
         |    SELECT lang, ntok,
         |           CASE WHEN ntok >= 40 THEN 'long'
         |                WHEN ntok >= 20 THEN 'mid' ELSE 'short' END AS band
         |    FROM (SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok
         |          FROM documents)
         |  )
         |  GROUP BY 1, 2
         |), ws AS (
         |  SELECT lang, band, n_docs,
         |         sqrt(CAST(CAST(n_docs AS HUGEINT) * ssq
         |                   - CAST(st AS HUGEINT) * st AS DOUBLE)) AS w
         |  FROM strata
         |), folded AS MATERIALIZED (
         |  SELECT list(struct_pack(lang := lang, band := band,
         |                          n_docs := n_docs, w := w)
         |              ORDER BY lang, band) AS xs
         |  FROM ws
         |), ideals AS (
         |  SELECT list_transform(xs, x -> struct_pack(
         |           lang := x.lang, band := x.band, n_docs := x.n_docs,
         |           w := x.w,
         |           ideal := CASE WHEN sw > 0
         |                         THEN $NeymanK.0 * x.w / sw
         |                         ELSE $NeymanK.0 * x.n_docs / sn END)) AS xs
         |  FROM (
         |    SELECT xs, list_reduce(
         |             list_prepend(CAST(0.0 AS DOUBLE),
         |                          list_transform(xs, x -> x.w)),
         |             (a, b) -> a + b) AS sw,
         |           list_reduce(
         |             list_prepend(CAST(0.0 AS DOUBLE),
         |                          list_transform(xs,
         |                                         x -> CAST(x.n_docs AS DOUBLE))),
         |             (a, b) -> a + b) AS sn
         |    FROM folded
         |  )
         |), based AS (
         |  SELECT list_transform(xs, x -> struct_pack(
         |           lang := x.lang, band := x.band, n_docs := x.n_docs,
         |           w := x.w, ideal := x.ideal,
         |           base := CAST(floor(x.ideal) AS BIGINT),
         |           frac := x.ideal - floor(x.ideal))) AS xs
         |  FROM ideals
         |), ranked AS MATERIALIZED (
         |  SELECT $NeymanK - list_reduce(
         |           list_prepend(CAST(0 AS BIGINT),
         |                        list_transform(xs, x -> x.base)),
         |           (a, b) -> a + b) AS leftover,
         |         list_sort(list_transform(xs, x -> struct_pack(
         |           nf := -x.frac, lang := x.lang, band := x.band,
         |           n_docs := x.n_docs, w := x.w, ideal := x.ideal,
         |           base := x.base))) AS sorted
         |  FROM based
         |), pe AS (
         |  SELECT leftover, unnest(range(1, len(sorted) + 1)) AS pos1,
         |         unnest(sorted) AS x
         |  FROM ranked
         |)
         |SELECT x.lang AS lang, x.band AS band, x.n_docs AS n_docs,
         |       x.w AS neyman_weight, x.ideal AS ideal,
         |       CAST(x.base + CASE WHEN pos1 - 1 < leftover
         |                          THEN 1 ELSE 0 END AS BIGINT) AS n_alloc,
         |       (x.base + CASE WHEN pos1 - 1 < leftover THEN 1 ELSE 0 END)
         |         > x.n_docs AS capped
         |FROM pe
         |ORDER BY lang, band""".stripMargin,
    "q332_ks_drift_stat" ->
      s"""WITH base AS (
         |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok,
         |         $driftHalfSql AS in_a
         |  FROM documents
         |), census AS MATERIALIZED (
         |  SELECT lang, ntok,
         |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS nav,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nbv
         |  FROM base GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang, CAST(sum(nav) AS BIGINT) AS n_a,
         |         CAST(sum(nbv) AS BIGINT) AS n_b
         |  FROM census GROUP BY 1
         |), cums AS (
         |  SELECT lang, ntok,
         |         CAST(sum(nav) OVER w AS BIGINT) AS cum_a,
         |         CAST(sum(nbv) OVER w AS BIGINT) AS cum_b
         |  FROM census
         |  WINDOW w AS (PARTITION BY lang ORDER BY ntok
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), per AS (
         |  SELECT c.lang, t.n_a, t.n_b,
         |         CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num
         |  FROM cums c JOIN tot t ON c.lang = t.lang
         |  GROUP BY 1, 2, 3
         |)
         |SELECT lang, n_a, n_b, ks_num,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(ks_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
         |       END AS ks_stat,
         |       coalesce(CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(ks_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
         |           > $KsCritAlpha05 * sqrt(CAST(n_a + n_b AS DOUBLE)
         |                                   / (CAST(n_a AS DOUBLE) * n_b))
         |       END, FALSE) AS drifted
         |FROM per
         |ORDER BY lang""".stripMargin,
    // q332's census/prefix chain with the weighted square-sum fold; the
    // exact W rides as a digit string (HUGEINT → VARCHAR; Spark
    // decimal(38,0) → string), T is the one shared divide
    "q356_cvm_drift_stat" ->
      s"""WITH base AS (
         |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok,
         |         $driftHalfSql AS in_a
         |  FROM documents
         |), census AS MATERIALIZED (
         |  SELECT lang, ntok,
         |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS nav,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS nbv
         |  FROM base GROUP BY 1, 2
         |), tot AS (
         |  SELECT lang, CAST(sum(nav) AS BIGINT) AS n_a,
         |         CAST(sum(nbv) AS BIGINT) AS n_b
         |  FROM census GROUP BY 1
         |), cums AS (
         |  SELECT lang, ntok, nav, nbv,
         |         CAST(sum(nav) OVER w AS BIGINT) AS cum_a,
         |         CAST(sum(nbv) OVER w AS BIGINT) AS cum_b
         |  FROM census
         |  WINDOW w AS (PARTITION BY lang ORDER BY ntok
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |), per AS (
         |  SELECT c.lang, t.n_a, t.n_b,
         |         sum(CAST(nav + nbv AS HUGEINT)
         |             * (CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a)
         |             * (CAST(cum_a AS HUGEINT) * n_b - CAST(cum_b AS HUGEINT) * n_a))
         |           AS wnum
         |  FROM cums c JOIN tot t ON c.lang = t.lang
         |  GROUP BY 1, 2, 3
         |)
         |SELECT lang, n_a, n_b, CAST(wnum AS VARCHAR) AS cvm_num,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(wnum AS DOUBLE)
         |           / (CAST(n_a AS DOUBLE) * n_b * (n_a + n_b) * (n_a + n_b))
         |       END AS cvm_stat,
         |       coalesce(CASE WHEN n_a > 0 AND n_b > 0 THEN
         |         CAST(wnum AS DOUBLE)
         |           / (CAST(n_a AS DOUBLE) * n_b * (n_a + n_b) * (n_a + n_b))
         |           > $CvmCritAlpha05
         |       END, FALSE) AS drifted
         |FROM per
         |ORDER BY lang""".stripMargin,
    "q304_distribution_drift" ->
      s"""WITH c AS (
         |  SELECT lang,
         |         CASE WHEN ntok >= 40 THEN 'long'
         |              WHEN ntok >= 20 THEN 'mid' ELSE 'short' END AS band,
         |         $driftHalfSql AS in_a
         |  FROM (SELECT doc_id, lang, len($toksSql) AS ntok FROM documents)
         |), cells AS (
         |  SELECT lang, band,
         |         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         |  FROM c GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(sum(n_a) AS BIGINT) AS na,
         |         CAST(sum(n_b) AS BIGINT) AS nb FROM cells
         |), wt AS MATERIALIZED (
         |  SELECT lang, band, n_a, n_b,
         |         abs(CAST(n_a AS HUGEINT) * nb - CAST(n_b AS HUGEINT) * na)
         |           AS drift_num
         |  FROM cells, tot
         |), tv AS (SELECT CAST(sum(drift_num) AS HUGEINT) AS sum_num FROM wt)
         |SELECT lang, band, n_a, n_b,
         |       CAST(drift_num AS BIGINT) AS drift_num,
         |       CAST((SELECT sum_num FROM tv) AS DOUBLE)
         |         / (2.0 * (SELECT na FROM tot) * (SELECT nb FROM tot))
         |         AS tv_distance
         |FROM wt
         |ORDER BY lang, band""".stripMargin,
    "q299_source_overlap_matrix" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val minCols = (0 until 12).map(j =>
        s"min((${MinhashA(j)} * h + ${MinhashB(j)}) % $MinhashPrime) AS m$j")
        .mkString(",\n         ")
      val matchSum = (0 until 12)
        .map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sh AS MATERIALIZED (
         |  SELECT source, unnest(hs) AS h
         |  FROM (
         |    SELECT source, $shingle3Sql AS hs
         |    FROM (
         |      SELECT source, $tokenHashesSql AS th
         |      FROM (SELECT source, toks
         |            FROM (SELECT source, $toksSql AS toks FROM documents)
         |            WHERE len(toks) >= 3)
         |    )
         |  )
         |), sig AS MATERIALIZED (
         |  SELECT source,
         |         $minCols
         |  FROM sh GROUP BY 1
         |), pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST($matchSum AS BIGINT) AS n_match
         |  FROM sig a JOIN sig b ON a.source < b.source
         |)
         |SELECT src_a, src_b, n_match,
         |       ${ratioSql("n_match", "12")} AS est_jaccard
         |FROM pairs
         |ORDER BY src_a, src_b""".stripMargin
    },
    // the winnowing selection is pure integer arithmetic over the
    // portable digests — the oracle replays the rightmost-min window
    // rule exactly (list_reverse/list_position mirrors the Spark
    // reverse/array_position tie-break)
    "q311_winnowing_census" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, $shingle3Sql AS hs
         |  FROM (SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |), sel AS MATERIALIZED (
         |  SELECT doc_id, hs, len(hs) AS n_shingles,
         |         CASE WHEN len(hs) >= 1 THEN
         |           list_distinct(list_transform(
         |             range(1, greatest(len(hs) - 3, 1) + 1),
         |             i -> i + len(hs[i : i + 3])
         |                  - list_position(list_reverse(hs[i : i + 3]),
         |                                  list_min(hs[i : i + 3]))))
         |         ELSE CAST([] AS BIGINT[]) END AS sel_pos
         |  FROM d
         |), selh AS MATERIALIZED (
         |  SELECT doc_id, n_shingles, len(sel_pos) AS n_fingerprints,
         |         list_distinct(list_transform(sel_pos, p -> hs[CAST(p AS INT)])) AS sel_hash
         |  FROM sel
         |), ex AS MATERIALIZED (
         |  SELECT doc_id, unnest(sel_hash) AS h FROM selh
         |), dfq AS (
         |  SELECT h FROM ex GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         |), sh AS (
         |  SELECT doc_id, count(*) AS n_shared_fp
         |  FROM ex JOIN dfq USING (h) GROUP BY 1
         |)
         |SELECT s.doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |       CAST(n_fingerprints AS BIGINT) AS n_fingerprints,
         |       CAST(coalesce(n_shared_fp, 0) AS BIGINT) AS n_shared_fp
         |FROM selh s LEFT JOIN sh USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q298_boilerplate_census" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT toks[1] || ' ' || toks[2] || ' ' || toks[3] AS head_sh,
         |         toks[-3] || ' ' || toks[-2] || ' ' || toks[-1] AS tail_sh
         |  FROM (SELECT $toksSql AS toks FROM documents)
         |  WHERE len(toks) >= 3
         |), ne AS (SELECT count(*) AS n_eligible FROM base),
         |c AS (
         |  SELECT 'head' AS kind, head_sh AS shingle, count(*) AS n_docs
         |  FROM base GROUP BY 2
         |  UNION ALL
         |  SELECT 'tail' AS kind, tail_sh AS shingle, count(*) AS n_docs
         |  FROM base GROUP BY 2
         |)
         |SELECT kind, shingle, CAST(n_docs AS BIGINT) AS n_docs,
         |       ${ratioSql("n_docs", "(SELECT n_eligible FROM ne)")} AS share
         |FROM c WHERE n_docs >= 2
         |ORDER BY kind, n_docs DESC, shingle""".stripMargin,
    // q297's chain with prefix-type / continuation-type tables and the
    // exact cleared-denominator KN rational inside the dyadic bits
    "q399_bigram_kneser_ney" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, $toksSql AS toks,
         |         CAST(('0x' || substr(md5('lm:' || CAST(doc_id AS VARCHAR)),
         |                              1, 6)) AS BIGINT) * 2 < 16777216
         |           AS is_train
         |  FROM documents
         |), vs AS (
         |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |  FROM (SELECT unnest(toks) AS tok FROM d WHERE is_train)
         |), bgs AS MATERIALIZED (
         |  SELECT doc_id, is_train,
         |         toks[i] || ' ' || toks[i + 1] AS bg,
         |         toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, is_train, toks,
         |               unnest(range(1, len(toks))) AS i
         |        FROM d WHERE len(toks) >= 2)
         |), bi AS MATERIALIZED (
         |  SELECT bg, CAST(count(*) AS BIGINT) AS c2
         |  FROM bgs WHERE is_train GROUP BY 1
         |), pre AS MATERIALIZED (
         |  SELECT string_split(bg, ' ')[1] AS w1,
         |         CAST(sum(c2) AS BIGINT) AS cp,
         |         CAST(count(*) AS BIGINT) AS n1p
         |  FROM bi GROUP BY 1
         |), cont AS MATERIALIZED (
         |  SELECT string_split(bg, ' ')[2] AS w2,
         |         CAST(count(*) AS BIGINT) AS nc
         |  FROM bi GROUP BY 1
         |), tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM bi),
         |sc AS (
         |  SELECT g.doc_id, a_num,
         |         CASE WHEN cp IS NULL
         |                THEN CAST(length(bin(v + 1)) AS BIGINT)
         |              WHEN a_num > 0
         |                THEN CAST(length(bin(2 * cp * t_types)) AS BIGINT)
         |                     - CAST(length(bin(a_num)) AS BIGINT)
         |              ELSE CAST(length(bin(2 * cp * t_types)) AS BIGINT) + 8
         |         END AS surprise,
         |         CASE WHEN c2 IS NULL AND cp IS NOT NULL AND a_num > 0
         |              THEN 1 ELSE 0 END AS ni,
         |         CASE WHEN cp IS NOT NULL AND a_num = 0
         |              THEN 1 ELSE 0 END AS nz,
         |         CASE WHEN cp IS NULL THEN 1 ELSE 0 END AS np
         |  FROM (
         |    SELECT g.doc_id, b.c2, p.cp,
         |           CASE WHEN p.cp IS NOT NULL THEN
         |             tt.t_types * (CASE WHEN b.c2 IS NOT NULL
         |                                THEN 2 * b.c2 - 1 ELSE 0 END)
         |             + p.n1p * coalesce(c.nc, 0)
         |           END AS a_num,
         |           tt.t_types
         |    FROM bgs g
         |    LEFT JOIN bi b ON g.bg = b.bg
         |    LEFT JOIN pre p ON g.w1 = p.w1
         |    LEFT JOIN cont c ON g.w2 = c.w2, tt
         |  ) g, vs
         |), agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(surprise) AS sb,
         |         sum(ni) AS sni, sum(nz) AS snz, sum(np) AS snp
         |  FROM sc GROUP BY 1
         |)
         |SELECT dd.doc_id, dd.is_train,
         |       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CAST(coalesce(a.sb, 0) AS BIGINT) AS surprise_bits,
         |       CAST(coalesce(a.sni, 0) AS BIGINT) AS n_continuation,
         |       CAST(coalesce(a.snz, 0) AS BIGINT) AS n_zero_mass,
         |       CAST(coalesce(a.snp, 0) AS BIGINT) AS n_oov_prefix,
         |       CASE WHEN coalesce(a.n_bigrams, 0) > 0
         |            THEN ${ratioSql("a.sb", "a.n_bigrams")} END AS mean_bits
         |FROM (SELECT doc_id, is_train FROM d) dd
         |LEFT JOIN agg a ON dd.doc_id = a.doc_id
         |ORDER BY dd.doc_id""".stripMargin,
    "q297_bigram_lm_perplexity" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, $toksSql AS toks,
         |         CAST(('0x' || substr(md5('lm:' || CAST(doc_id AS VARCHAR)),
         |                              1, 6)) AS BIGINT) * 2 < 16777216
         |           AS is_train
         |  FROM documents
         |), uni AS MATERIALIZED (
         |  SELECT tok, count(*) AS c1
         |  FROM (SELECT unnest(toks) AS tok FROM d WHERE is_train) GROUP BY 1
         |), nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_train FROM uni),
         |bgs AS MATERIALIZED (
         |  SELECT doc_id, is_train,
         |         toks[i] || ' ' || toks[i + 1] AS bg,
         |         toks[i] AS w1, toks[i + 1] AS w2
         |  FROM (SELECT doc_id, is_train, toks,
         |               unnest(range(1, len(toks))) AS i
         |        FROM d WHERE len(toks) >= 2)
         |), bi AS MATERIALIZED (
         |  SELECT bg, count(*) AS c2 FROM bgs WHERE is_train GROUP BY 1
         |), pre AS MATERIALIZED (
         |  SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS cp
         |  FROM bi GROUP BY 1
         |), sc AS (
         |  SELECT g.doc_id,
         |         CASE WHEN b.c2 IS NOT NULL
         |                THEN CAST(length(bin(p.cp)) AS BIGINT)
         |                     - CAST(length(bin(b.c2)) AS BIGINT)
         |              WHEN u.c1 IS NOT NULL
         |                THEN CAST(length(bin(nt.n_train)) AS BIGINT)
         |                     - CAST(length(bin(u.c1)) AS BIGINT) + 4
         |              ELSE CAST(length(bin(nt.n_train)) AS BIGINT) + 8
         |         END AS surprise,
         |         CASE WHEN b.c2 IS NULL AND u.c1 IS NOT NULL THEN 1 ELSE 0 END AS bk,
         |         CASE WHEN b.c2 IS NULL AND u.c1 IS NULL THEN 1 ELSE 0 END AS ov
         |  FROM bgs g
         |  LEFT JOIN bi b ON g.bg = b.bg
         |  LEFT JOIN pre p ON g.w1 = p.w1
         |  LEFT JOIN uni u ON g.w2 = u.tok, nt
         |), agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(surprise) AS sb,
         |         sum(bk) AS nbk, sum(ov) AS nov
         |  FROM sc GROUP BY 1
         |)
         |SELECT dd.doc_id, dd.is_train,
         |       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |       CAST(coalesce(a.sb, 0) AS BIGINT) AS surprise_bits,
         |       CAST(coalesce(a.nbk, 0) AS BIGINT) AS n_backoff,
         |       CAST(coalesce(a.nov, 0) AS BIGINT) AS n_oov,
         |       CASE WHEN coalesce(a.n_bigrams, 0) > 0
         |            THEN ${ratioSql("a.sb", "a.n_bigrams")} END AS mean_bits
         |FROM (SELECT doc_id, is_train FROM d) dd
         |LEFT JOIN agg a ON dd.doc_id = a.doc_id
         |ORDER BY dd.doc_id""".stripMargin,
    "q296_matryoshka_census" -> {
      // prefix-k self-dot with the exact q45 op tree: float products,
      // sequential double fold over a FIXED element order
      def pdot(k: Int): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"CAST(list_transform(range(1, ${k + 1}), " +
          s"i -> embedding[i] * embedding[i]) AS DOUBLE[])), " +
          "(acc, p) -> acc + p)"
      s"""WITH n AS (
         |  SELECT vec_id, ${pdot(8)} AS p8, ${pdot(16)} AS p16,
         |         ${pdot(32)} AS p32, ${pdot(64)} AS f
         |  FROM embeddings
         |), r AS (
         |  SELECT vec_id,
         |         CASE WHEN f = 0 THEN 1.0 ELSE sqrt(p8) / sqrt(f) END AS r8,
         |         CASE WHEN f = 0 THEN 1.0 ELSE sqrt(p16) / sqrt(f) END AS r16,
         |         CASE WHEN f = 0 THEN 1.0 ELSE sqrt(p32) / sqrt(f) END AS r32
         |  FROM n
         |)
         |SELECT vec_id, r8, r16, r32,
         |       CAST(CASE WHEN r8 >= 0.9 THEN 8 WHEN r16 >= 0.9 THEN 16
         |                 WHEN r32 >= 0.9 THEN 32 ELSE 64 END AS BIGINT)
         |         AS dims_for_90pct
         |FROM r
         |ORDER BY vec_id""".stripMargin
    },
    "q295_temperature_mixture" ->
      s"""WITH mass AS (
         |  SELECT lang, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1
         |), w0 AS (
         |  SELECT lang, n_tokens, n_tokens * 1000000 AS x,
         |         CAST(floor(sqrt(CAST(n_tokens * 1000000 AS DOUBLE)))
         |              AS BIGINT) AS r0
         |  FROM mass
         |), wt AS (
         |  SELECT lang, n_tokens,
         |         r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= x THEN 1 ELSE 0 END)
         |            - (CASE WHEN r0 * r0 > x THEN 1 ELSE 0 END) AS w
         |  FROM w0
         |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM wt),
         |based AS MATERIALIZED (
         |  SELECT lang, n_tokens, w,
         |         (w * 1000000) // ww AS base,
         |         (w * 1000000) % ww AS rem
         |  FROM wt, tot
         |), short AS (SELECT 1000000 - CAST(sum(base) AS BIGINT) AS r FROM based),
         |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
         |       FROM based)
         |SELECT lang, n_tokens, CAST(w AS BIGINT) AS weight,
         |       CAST(base + CASE WHEN rk <= (SELECT r FROM short)
         |                        THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM rk ORDER BY lang""".stripMargin,
    "q293_importance_resampling" ->
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id, lang,
         |         CAST(CAST(('0x' || substr(md5(tok), 1, 10)) AS BIGINT) % 64
         |              AS INT) AS bucket
         |  FROM (SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents)
         |), b AS (
         |  SELECT bucket,
         |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
         |         count(*) AS cnt_r
         |  FROM toks GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(cnt_t) AS BIGINT) AS tt,
         |         CAST(sum(cnt_r) AS BIGINT) AS rr FROM b
         |), w AS (
         |  SELECT bucket,
         |         (CAST(length(bin(cnt_t + 1)) AS BIGINT)
         |            - CAST(length(bin(tt + 1)) AS BIGINT))
         |         - (CAST(length(bin(cnt_r + 1)) AS BIGINT)
         |            - CAST(length(bin(rr + 1)) AS BIGINT)) AS w
         |  FROM b, tot
         |), sc AS (
         |  SELECT t.doc_id, count(*) AS n_toks, sum(w.w) AS score_bits
         |  FROM toks t JOIN w ON t.bucket = w.bucket
         |  GROUP BY 1
         |)
         |SELECT d.doc_id,
         |       CAST(coalesce(sc.n_toks, 0) AS BIGINT) AS n_toks,
         |       CAST(coalesce(sc.score_bits, 0) AS BIGINT) AS score_bits,
         |       coalesce(sc.score_bits, 0) > 0 AS selected
         |FROM (SELECT doc_id FROM documents) d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q180_feature_hashing" ->
      s"""WITH cells AS (
         |  SELECT doc_id, CAST(th % 64 AS INT) AS bucket,
         |         CAST(sum(CASE WHEN (th & 64) = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
         |  FROM (
         |    SELECT doc_id,
         |           CAST(('0x' || substr(md5(tok), 1, 10)) AS BIGINT) AS th
         |    FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents))
         |  GROUP BY doc_id, bucket
         |),
         |maps AS (
         |  SELECT doc_id, map_from_entries(list((bucket, v) ORDER BY bucket)) AS m
         |  FROM cells GROUP BY doc_id
         |)
         |SELECT doc_id,
         |       array_to_string(list_transform(range(0, 64),
         |         i -> coalesce(m[CAST(i AS INT)][1], CAST(0 AS BIGINT))), ',') AS fvec
         |FROM maps
         |ORDER BY doc_id""".stripMargin,
    // Kish ESS/deff as exact rationals; VARCHAR-routed big casts
    "q395_effective_sample_size" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT source, CAST(len($toksSql) AS BIGINT) AS w FROM documents
         |), per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(w) AS HUGEINT) AS sw,
         |         CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2
         |  FROM base GROUP BY 1
         |), gl AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(w) AS HUGEINT) AS sw,
         |         CAST(sum(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sw2
         |  FROM base
         |), gg AS (
         |  SELECT CASE WHEN sw2 > 0 THEN
         |           CAST(CAST(sw * sw AS VARCHAR) AS DOUBLE)
         |             / CAST(CAST(sw2 AS VARCHAR) AS DOUBLE) END AS ess_global,
         |         CASE WHEN sw > 0 THEN
         |           CAST(CAST(CAST(n AS HUGEINT) * sw2 AS VARCHAR) AS DOUBLE)
         |             / CAST(CAST(sw * sw AS VARCHAR) AS DOUBLE) END
         |           AS deff_global
         |  FROM gl
         |)
         |SELECT source, n, CAST(sw AS VARCHAR) AS sum_w,
         |       CASE WHEN sw2 > 0 THEN
         |         CAST(CAST(sw * sw AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(sw2 AS VARCHAR) AS DOUBLE) END AS ess,
         |       CASE WHEN sw > 0 THEN
         |         CAST(CAST(CAST(n AS HUGEINT) * sw2 AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(sw * sw AS VARCHAR) AS DOUBLE) END AS deff,
         |       CASE WHEN sw2 > 0 AND n > 0 THEN
         |         CAST(CAST(sw * sw AS VARCHAR) AS DOUBLE)
         |           / CAST(CAST(sw2 AS VARCHAR) AS DOUBLE)
         |           / CAST(n AS DOUBLE) END AS ess_ratio,
         |       ess_global, deff_global
         |FROM per, gg
         |ORDER BY source""".stripMargin,
    // q370's band/first-attribution shape over the q50 fingerprint
    "q392_dup_saturation" ->
      s"""WITH bounds AS (
         |  SELECT CAST(min(doc_id) AS BIGINT) AS lo,
         |         CAST(max(doc_id) AS BIGINT) AS hi
         |  FROM documents
         |), fps AS MATERIALIZED (
         |  SELECT doc_id,
         |         md5(array_to_string(list_sort(list_distinct($toksSql)), ' '))
         |           AS fp
         |  FROM documents
         |), pbd AS (
         |  SELECT ((doc_id - lo) * $VgBands) // (hi - lo + 1) AS band,
         |         CAST(count(*) AS BIGINT) AS n_docs
         |  FROM documents, bounds GROUP BY 1
         |), pbn AS (
         |  SELECT ((fd - lo) * $VgBands) // (hi - lo + 1) AS band,
         |         CAST(count(*) AS BIGINT) AS n_new_fps
         |  FROM (SELECT fp, CAST(min(doc_id) AS BIGINT) AS fd
         |        FROM fps GROUP BY 1), bounds
         |  GROUP BY 1
         |), curve AS (
         |  SELECT CAST(d.band AS BIGINT) AS band, d.n_docs,
         |         CAST(coalesce(n.n_new_fps, 0) AS BIGINT) AS n_new_fps
         |  FROM pbd d LEFT JOIN pbn n ON n.band = d.band
         |), cums AS (
         |  SELECT band, n_docs, n_new_fps,
         |         CAST(sum(n_docs) OVER (ORDER BY band
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_docs,
         |         CAST(sum(n_new_fps) OVER (ORDER BY band
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_fps
         |  FROM curve
         |)
         |SELECT band, n_docs, n_new_fps, cum_docs, cum_fps,
         |       ${ratioSql("n_docs - n_new_fps", "n_docs")} AS band_dup_rate,
         |       ${ratioSql("cum_docs - cum_fps", "cum_docs")} AS cum_dup_rate
         |FROM cums
         |ORDER BY band""".stripMargin,
    // exact per-group moments → lang-ordered term fold → the F/η² trees
    "q393_anova_effect" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT lang, CAST(len($toksSql) AS BIGINT) AS x FROM documents
         |), grp AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_j,
         |         CAST(sum(x) AS HUGEINT) AS s_j
         |  FROM base GROUP BY 1
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS HUGEINT) AS s,
         |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
         |  FROM base
         |), st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_groups, n, s, q,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(CAST(CAST(s_j * s_j AS VARCHAR) AS DOUBLE)
         |                / CAST(n_j AS DOUBLE) ORDER BY lang)),
         |           (a, b) -> a + b) AS ssb_part
         |  FROM grp, tot
         |  GROUP BY 2, 3, 4
         |)
         |SELECT n AS n_docs, n_groups,
         |       ssb_part - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
         |         / CAST(n AS DOUBLE) AS ss_between,
         |       CAST(CAST(q AS VARCHAR) AS DOUBLE) - ssb_part AS ss_within,
         |       CASE WHEN n_groups > 1 AND n > n_groups
         |             AND CAST(CAST(q AS VARCHAR) AS DOUBLE) - ssb_part > 0.0
         |            THEN ((ssb_part - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
         |                   / CAST(n AS DOUBLE))
         |                  / CAST(n_groups - 1 AS DOUBLE))
         |                 / ((CAST(CAST(q AS VARCHAR) AS DOUBLE) - ssb_part)
         |                    / CAST(n - n_groups AS DOUBLE)) END AS f_stat,
         |       CASE WHEN CAST(CAST(q AS VARCHAR) AS DOUBLE)
         |                  - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
         |                    / CAST(n AS DOUBLE) > 0.0
         |            THEN (ssb_part - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
         |                  / CAST(n AS DOUBLE))
         |                 / (CAST(CAST(q AS VARCHAR) AS DOUBLE)
         |                    - CAST(CAST(s * s AS VARCHAR) AS DOUBLE)
         |                      / CAST(n AS DOUBLE)) END AS eta_sq
         |FROM st
         |WHERE n > 0""".stripMargin,
    // exact per-half moments → pooled variance → the d and g trees
    // per-lang half census → lang-sorted √(na·nb) fold (products
    // HUGEINT → VARCHAR), BC and H as shared trees
    "q408_hellinger_lang_drift" -> {
      val bcSql = "bc_num / sqrt(CAST(CAST(CAST(n_a AS HUGEINT) * n_b " +
        "AS VARCHAR) AS DOUBLE))"
      s"""WITH cells AS MATERIALIZED (
         |  SELECT lang,
         |         ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS na,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS nb
         |  FROM (SELECT lang, $driftHalfSql AS in_a FROM documents)
         |  GROUP BY 1
         |), g AS (
         |  SELECT ${sumLongSql("na")} AS n_a, ${sumLongSql("nb")} AS n_b,
         |         CAST(count(*) AS BIGINT) AS n_langs,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(sqrt(CAST(CAST(CAST(na AS HUGEINT) * nb AS VARCHAR)
         |                          AS DOUBLE)) ORDER BY lang)),
         |           (a, b) -> a + b) AS bc_num
         |  FROM cells
         |)
         |SELECT n_a, n_b, n_langs,
         |       CASE WHEN n_a > 0 AND n_b > 0 THEN $bcSql END
         |         AS bhattacharyya,
         |       CASE WHEN n_a > 0 AND n_b > 0
         |            THEN sqrt(greatest(0.0, 1.0 - $bcSql)) END AS hellinger
         |FROM g""".stripMargin
    },
    // the q403 census → exact lower-median selections per half → q394's
    // moment trees pointed at |v − med| deviations; BF(k=2) = pooled t²
    "q407_brown_forsythe_drift" -> {
      val maSql = "sa_d / CAST(n_a AS DOUBLE)"
      val mbSql = "sb_d / CAST(n_b AS DOUBLE)"
      s"""WITH census AS MATERIALIZED (
         |  SELECT ntok,
         |         ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS nav,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS nbv
         |  FROM (
         |    SELECT CAST(len($toksSql) AS BIGINT) AS ntok,
         |           $driftHalfSql AS in_a
         |    FROM documents)
         |  GROUP BY 1
         |), cums AS (
         |  SELECT ntok, nav, nbv,
         |         CAST(sum(nav) OVER (ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_a,
         |         CAST(sum(nbv) OVER (ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_b
         |  FROM census
         |), tot AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b
         |  FROM census
         |), med AS MATERIALIZED (
         |  SELECT min(CASE WHEN cum_a >= (n_a + 1) // 2
         |                   AND (n_a + 1) // 2 >= 1 THEN ntok END) AS med_a,
         |         min(CASE WHEN cum_b >= (n_b + 1) // 2
         |                   AND (n_b + 1) // 2 >= 1 THEN ntok END) AS med_b
         |  FROM cums, tot
         |), mom AS (
         |  SELECT ${sumLongSql("nav")} AS n_a, ${sumLongSql("nbv")} AS n_b,
         |         med_a, med_b,
         |         CAST(sum(CAST(nav AS HUGEINT) * abs(ntok - med_a))
         |              AS HUGEINT) AS sa,
         |         CAST(sum(CAST(nav AS HUGEINT) * abs(ntok - med_a)
         |                  * abs(ntok - med_a)) AS HUGEINT) AS qa,
         |         CAST(sum(CAST(nbv AS HUGEINT) * abs(ntok - med_b))
         |              AS HUGEINT) AS sb,
         |         CAST(sum(CAST(nbv AS HUGEINT) * abs(ntok - med_b)
         |                  * abs(ntok - med_b)) AS HUGEINT) AS qb
         |  FROM census, med GROUP BY med_a, med_b
         |), t AS (
         |  SELECT n_a, n_b, med_a, med_b,
         |         CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS sa_d,
         |         CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS sb_d,
         |         CAST(CAST(CAST(n_a AS HUGEINT) * qa - sa * sa AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS VARCHAR)
         |                  AS DOUBLE) AS var_a,
         |         CAST(CAST(CAST(n_b AS HUGEINT) * qb - sb * sb AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS VARCHAR)
         |                  AS DOUBLE) AS var_b
         |  FROM mom
         |), p AS (
         |  SELECT n_a, n_b, med_a, med_b, sa_d, sb_d,
         |         (CAST(n_a - 1 AS DOUBLE) * var_a
         |          + CAST(n_b - 1 AS DOUBLE) * var_b)
         |           / CAST(n_a + n_b - 2 AS DOUBLE) AS sp2
         |  FROM t
         |)
         |SELECT n_a, n_b, med_a, med_b,
         |       CASE WHEN n_a > 0 THEN $maSql END AS mean_absdev_a,
         |       CASE WHEN n_b > 0 THEN $mbSql END AS mean_absdev_b,
         |       CASE WHEN n_a > 1 AND n_b > 1 THEN sp2 END AS pooled_var,
         |       CASE WHEN n_a > 1 AND n_b > 1 AND sp2 > 0.0 THEN
         |         ($maSql - $mbSql) * ($maSql - $mbSql)
         |           / (sp2 * (1.0 / CAST(n_a AS DOUBLE)
         |                     + 1.0 / CAST(n_b AS DOUBLE))) END AS bf_f
         |FROM p""".stripMargin
    },
    "q394_cohens_d" ->
      s"""WITH g AS (
         |  SELECT ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS n_a,
         |         CAST(sum(CASE WHEN in_a THEN x ELSE 0 END) AS HUGEINT)
         |           AS s_a,
         |         CAST(sum(CASE WHEN in_a THEN CAST(x AS HUGEINT) * x
         |                       ELSE 0 END) AS HUGEINT) AS q_a,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS n_b,
         |         CAST(sum(CASE WHEN in_a THEN 0 ELSE x END) AS HUGEINT)
         |           AS s_b,
         |         CAST(sum(CASE WHEN in_a THEN 0
         |                       ELSE CAST(x AS HUGEINT) * x END) AS HUGEINT)
         |           AS q_b
         |  FROM (
         |    SELECT CAST(len($toksSql) AS BIGINT) AS x,
         |           $driftHalfSql AS in_a
         |    FROM documents)
         |), t AS (
         |  SELECT n_a, n_b,
         |         CAST(CAST(s_a AS VARCHAR) AS DOUBLE) AS sa_d,
         |         CAST(CAST(s_b AS VARCHAR) AS DOUBLE) AS sb_d,
         |         CAST(CAST(CAST(n_a AS HUGEINT) * q_a - s_a * s_a AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(CAST(n_a AS HUGEINT) * (n_a - 1) AS VARCHAR)
         |                  AS DOUBLE) AS var_a,
         |         CAST(CAST(CAST(n_b AS HUGEINT) * q_b - s_b * s_b AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(CAST(n_b AS HUGEINT) * (n_b - 1) AS VARCHAR)
         |                  AS DOUBLE) AS var_b
         |  FROM g
         |), p AS (
         |  SELECT n_a, n_b, sa_d, sb_d,
         |         (CAST(n_a - 1 AS DOUBLE) * var_a
         |          + CAST(n_b - 1 AS DOUBLE) * var_b)
         |           / CAST(n_a + n_b - 2 AS DOUBLE) AS sp2
         |  FROM t
         |)
         |SELECT n_a, n_b,
         |       CASE WHEN n_a > 0 THEN sa_d / CAST(n_a AS DOUBLE) END
         |         AS mean_a,
         |       CASE WHEN n_b > 0 THEN sb_d / CAST(n_b AS DOUBLE) END
         |         AS mean_b,
         |       CASE WHEN n_a > 1 AND n_b > 1 THEN sp2 END AS pooled_var,
         |       CASE WHEN n_a > 1 AND n_b > 1 AND sp2 > 0.0 THEN
         |         (sa_d / CAST(n_a AS DOUBLE) - sb_d / CAST(n_b AS DOUBLE))
         |           / sqrt(sp2) END AS cohen_d,
         |       CASE WHEN n_a > 1 AND n_b > 1 AND sp2 > 0.0 THEN
         |         ((sa_d / CAST(n_a AS DOUBLE) - sb_d / CAST(n_b AS DOUBLE))
         |            / sqrt(sp2))
         |         * (1.0 - 3.0 / (4.0 * CAST(n_a + n_b AS DOUBLE) - 9.0))
         |       END AS hedges_g
         |FROM p""".stripMargin,
    // the q332 halves → value census → prefix window → 9 exact
    // ceil-rank selections (the run containing the rank)
    "q390_qq_decile_drift" ->
      s"""WITH census AS MATERIALIZED (
         |  SELECT ntok,
         |         ${sumLongSql("CASE WHEN in_a THEN 1 ELSE 0 END")} AS nav,
         |         ${sumLongSql("CASE WHEN in_a THEN 0 ELSE 1 END")} AS nbv
         |  FROM (
         |    SELECT CAST(len($toksSql) AS BIGINT) AS ntok,
         |           $driftHalfSql AS in_a
         |    FROM documents)
         |  GROUP BY 1
         |), cums AS MATERIALIZED (
         |  SELECT ntok, nav, nbv,
         |         CAST(sum(nav) OVER (ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_a,
         |         CAST(sum(nbv) OVER (ORDER BY ntok
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum_b
         |  FROM census
         |), tot AS (
         |  SELECT CAST(coalesce(max(cum_a), 0) AS BIGINT) AS n_a,
         |         CAST(coalesce(max(cum_b), 0) AS BIGINT) AS n_b
         |  FROM cums
         |), sel AS (
         |  SELECT decile, max(n_a) AS n_a, max(n_b) AS n_b,
         |         CAST(max((decile * n_a + 9) // 10) AS BIGINT) AS rank_a,
         |         CAST(max((decile * n_b + 9) // 10) AS BIGINT) AS rank_b,
         |         min(CASE WHEN cum_a - nav < (decile * n_a + 9) // 10
         |                   AND cum_a >= (decile * n_a + 9) // 10
         |                   AND (decile * n_a + 9) // 10 > 0
         |                  THEN ntok END) AS q_a,
         |         min(CASE WHEN cum_b - nbv < (decile * n_b + 9) // 10
         |                   AND cum_b >= (decile * n_b + 9) // 10
         |                   AND (decile * n_b + 9) // 10 > 0
         |                  THEN ntok END) AS q_b
         |  FROM cums, tot, (SELECT unnest(range(1, 10)) AS decile)
         |  GROUP BY 1
         |)
         |SELECT CAST(decile AS BIGINT) AS decile, n_a, n_b, rank_a, rank_b,
         |       q_a, q_b, q_b - q_a AS gap,
         |       CASE WHEN q_a > 0 THEN ${ratioSql("q_b", "q_a")} END
         |         AS qq_ratio
         |FROM sel
         |ORDER BY decile""".stripMargin,
    // global doubled midranks → per-language exact rank sums → the
    // lang-ordered term fold; squares VARCHAR-routed, literal χ² table
    "q391_kruskal_wallis" ->
      s"""WITH cells AS MATERIALIZED (
         |  SELECT lang, ntok, CAST(count(*) AS BIGINT) AS nv
         |  FROM (SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok
         |        FROM documents)
         |  GROUP BY 1, 2
         |), vals AS MATERIALIZED (
         |  SELECT ntok, CAST(sum(nv) AS BIGINT) AS w FROM cells GROUP BY 1
         |), dr AS MATERIALIZED (
         |  SELECT ntok,
         |         2 * (CAST(sum(w) OVER (ORDER BY ntok
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |              AS BIGINT) - w) + w + 1 AS dr,
         |         w
         |  FROM vals
         |), grp AS MATERIALIZED (
         |  SELECT lang, CAST(sum(nv) AS BIGINT) AS n_j,
         |         CAST(sum(CAST(nv AS HUGEINT) * dr) AS HUGEINT) AS s2_j
         |  FROM cells JOIN dr USING (ntok)
         |  GROUP BY 1
         |), ties AS (
         |  SELECT CAST(sum(CAST(w AS HUGEINT) * w * w - w) AS HUGEINT)
         |           AS t_cube,
         |         CAST(sum(w) AS BIGINT) AS n
         |  FROM dr
         |), st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_groups, n, t_cube,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list(CAST(CAST(s2_j * s2_j AS VARCHAR) AS DOUBLE)
         |                / (4.0 * CAST(n_j AS DOUBLE)) ORDER BY lang)),
         |           (a, b) -> a + b) AS sum_terms
         |  FROM grp, ties
         |  GROUP BY 2, 3
         |)
         |SELECT n AS n_docs, n_groups, n_groups - 1 AS df,
         |       12.0 * sum_terms
         |         / CAST(CAST(CAST(n AS HUGEINT) * (n + 1) AS VARCHAR)
         |                AS DOUBLE)
         |         - 3.0 * CAST(n + 1 AS DOUBLE) AS h_stat,
         |       CAST(t_cube AS VARCHAR) AS tie_cube,
         |       CASE WHEN 1.0 - CAST(CAST(t_cube AS VARCHAR) AS DOUBLE)
         |                  / CAST(CAST(CAST(n AS HUGEINT) * n * n - n
         |                         AS VARCHAR) AS DOUBLE) > 0.0 THEN
         |         (12.0 * sum_terms
         |            / CAST(CAST(CAST(n AS HUGEINT) * (n + 1) AS VARCHAR)
         |                   AS DOUBLE)
         |          - 3.0 * CAST(n + 1 AS DOUBLE))
         |         / (1.0 - CAST(CAST(t_cube AS VARCHAR) AS DOUBLE)
         |            / CAST(CAST(CAST(n AS HUGEINT) * n * n - n
         |                   AS VARCHAR) AS DOUBLE))
         |       END AS h_corrected,
         |       coalesce(CASE WHEN 1.0 - CAST(CAST(t_cube AS VARCHAR) AS DOUBLE)
         |                  / CAST(CAST(CAST(n AS HUGEINT) * n * n - n
         |                         AS VARCHAR) AS DOUBLE) > 0.0 THEN
         |         ((12.0 * sum_terms
         |             / CAST(CAST(CAST(n AS HUGEINT) * (n + 1) AS VARCHAR)
         |                    AS DOUBLE)
         |           - 3.0 * CAST(n + 1 AS DOUBLE))
         |          / (1.0 - CAST(CAST(t_cube AS VARCHAR) AS DOUBLE)
         |             / CAST(CAST(CAST(n AS HUGEINT) * n * n - n
         |                    AS VARCHAR) AS DOUBLE)))
         |         > ${chi2CritSql("n_groups - 1")}
         |       END, FALSE) AS rejected
         |FROM st
         |WHERE n > 1""".stripMargin,
    // exact-rational diversity over the (source, lang) census; the big
    // casts route through VARCHAR (HUGEINT→DOUBLE misrounds past 2⁵³)
    "q388_simpson_diversity" ->
      s"""WITH cells AS MATERIALIZED (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2
         |), per AS (
         |  SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_langs,
         |         CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS c
         |  FROM cells GROUP BY 1
         |), gl AS (
         |  SELECT CAST(sum(gn) AS BIGINT) AS gn_tot,
         |         CAST(sum(CAST(gn AS HUGEINT) * gn) AS HUGEINT) AS gc
         |  FROM (SELECT lang, CAST(sum(n) AS BIGINT) AS gn
         |        FROM cells GROUP BY 1)
         |), gg AS (
         |  SELECT CAST(CAST(CAST(gn_tot AS HUGEINT) * gn_tot - gc AS VARCHAR)
         |              AS DOUBLE)
         |         / CAST(CAST(CAST(gn_tot AS HUGEINT) * gn_tot AS VARCHAR)
         |                AS DOUBLE) AS simpson_global
         |  FROM gl
         |)
         |SELECT source, n_docs, n_langs,
         |       CAST(CAST(CAST(n_docs AS HUGEINT) * n_docs - c AS VARCHAR)
         |            AS DOUBLE)
         |         / CAST(CAST(CAST(n_docs AS HUGEINT) * n_docs AS VARCHAR)
         |                AS DOUBLE) AS simpson,
         |       CASE WHEN c > 0 THEN
         |         CAST(CAST(CAST(n_docs AS HUGEINT) * n_docs AS VARCHAR)
         |              AS DOUBLE)
         |           / CAST(CAST(c AS VARCHAR) AS DOUBLE)
         |       END AS effective_langs,
         |       simpson_global
         |FROM per, gg
         |ORDER BY source""".stripMargin,
    // the q193 scoring reused: per-probe top-5 → pool-member occurrence
    // counts (zeros kept) → exact n-scaled moments → the one skew tree;
    // big casts go through VARCHAR (DuckDB HUGEINT→DOUBLE misrounds)
    "q387_knn_hubness" ->
      s"""WITH pool AS MATERIALIZED (
         |  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $LabelPanelK
         |), poole AS MATERIALIZED (
         |  SELECT * FROM embeddings ORDER BY vec_id LIMIT $LabelPanelK
         |), top AS (
         |  SELECT qid, vid,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vid ASC) AS rn
         |  FROM (
         |    SELECT p.vec_id AS qid, c.vec_id AS vid,
         |           ${cosSql("p.embedding", "c.embedding")} AS cos
         |    FROM (SELECT * FROM embeddings
         |          WHERE vec_id NOT IN (SELECT vec_id FROM pool)) p
         |    JOIN poole c ON p.vec_id <> c.vec_id)
         |), occ AS (
         |  SELECT vid, CAST(count(*) AS BIGINT) AS n_occ
         |  FROM top WHERE rn <= 5 GROUP BY 1
         |), fullt AS MATERIALIZED (
         |  SELECT pool.vec_id AS vid,
         |         CAST(coalesce(occ.n_occ, 0) AS BIGINT) AS n_occ
         |  FROM pool LEFT JOIN occ ON occ.vid = pool.vec_id
         |), mom AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_panel,
         |         CAST(sum(n_occ) AS BIGINT) AS s
         |  FROM fullt
         |), g AS (
         |  SELECT max(n_panel) AS n_panel, max(s) AS s,
         |         CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS c2,
         |         CAST(sum(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS c3,
         |         CAST(max(n_occ) AS BIGINT) AS max_occ,
         |         ${sumLongSql("CASE WHEN n_occ = 0 THEN 1 ELSE 0 END")}
         |           AS n_never
         |  FROM (SELECT n_panel, s, n_panel * n_occ - s AS c, n_occ
         |        FROM fullt, mom)
         |), gg AS (
         |  SELECT n_panel, s // 5 AS n_probes, max_occ, n_never,
         |         CAST(c2 AS VARCHAR) AS c2_num,
         |         CAST(c3 AS VARCHAR) AS c3_num,
         |         CASE WHEN c2 > 0 THEN
         |           (sqrt(CAST(n_panel AS DOUBLE))
         |            * CAST(CAST(c3 AS VARCHAR) AS DOUBLE))
         |           / (sqrt(CAST(CAST(c2 AS VARCHAR) AS DOUBLE))
         |              * sqrt(CAST(CAST(c2 AS VARCHAR) AS DOUBLE))
         |              * sqrt(CAST(CAST(c2 AS VARCHAR) AS DOUBLE)))
         |         END AS hubness_skew
         |  FROM g
         |)
         |SELECT f.vid, f.n_occ, n_panel, n_probes, max_occ, n_never,
         |       c2_num, c3_num, hubness_skew
         |FROM fullt f, gg
         |ORDER BY f.vid""".stripMargin,
    "q193_knn_label_vote" ->
      s"""WITH pool AS MATERIALIZED (
         |  SELECT * FROM embeddings ORDER BY vec_id LIMIT $LabelPanelK
         |), top AS (
         |  SELECT qid, true_label, label,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vid ASC) AS rn
         |  FROM (
         |    SELECT p.vec_id AS qid, p.label AS true_label,
         |           c.vec_id AS vid, c.label AS label,
         |           ${cosSql("p.embedding", "c.embedding")} AS cos
         |    FROM (SELECT * FROM embeddings
         |          WHERE vec_id NOT IN (SELECT vec_id FROM pool)) p
         |    JOIN pool c ON p.vec_id <> c.vec_id)
         |), vote AS (
         |  SELECT qid, true_label, label, count(*) AS votes
         |  FROM top WHERE rn <= 5 GROUP BY 1, 2, 3)
         |SELECT qid, label AS pred_label, CAST(votes AS BIGINT) AS votes,
         |       true_label, label = true_label AS correct
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY votes DESC, label ASC) AS r FROM vote)
         |WHERE r = 1
         |ORDER BY qid""".stripMargin,
    "q163_hard_negatives" ->
      s"""SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
         |  SELECT qid, vid, cos,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, vid ASC) AS rn
         |  FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           ${cosSql("q.embedding", "c.embedding")} AS cos
         |    FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
         |    JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id)
         |  WHERE cos >= 0.15 AND cos < 0.45
         |) WHERE rn <= 2
         |ORDER BY qid, rn""".stripMargin,
    "q196_bpe_encode" ->
      s"""WITH vocab AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |         '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seg
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w
         |),
         |pc1 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms FROM vocab))
         |  GROUP BY pair
         |),
         |top1 AS (SELECT pair AS top_pair FROM pc1
         |         ORDER BY cnt DESC, pair ASC LIMIT 1),
         |vocab2 AS (
         |  SELECT w, freq,
         |         replace(seg, ' ' || replace(top_pair, ' ', '  ') || ' ',
         |                 ' ' || replace(top_pair, ' ', '') || ' ') AS seg
         |  FROM vocab, top1
         |),
         |pc2 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms FROM vocab2))
         |  GROUP BY pair
         |),
         |top2 AS (SELECT pair AS top_pair FROM pc2
         |         ORDER BY cnt DESC, pair ASC LIMIT 1),
         |vocab3 AS (
         |  SELECT w, freq,
         |         replace(seg, ' ' || replace(top_pair, ' ', '  ') || ' ',
         |                 ' ' || replace(top_pair, ' ', '') || ' ') AS seg
         |  FROM vocab2, top2
         |)
         |SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occurrences,
         |       count(DISTINCT w) AS n_words
         |FROM (SELECT w, freq, unnest(string_split(trim(seg), '  ')) AS sym
         |      FROM vocab3)
         |GROUP BY sym
         |ORDER BY sym""".stripMargin,
    "q329_bpe_merge_loop" -> bpeLoopOracleSql,
    "q374_wordpiece_merge_loop" -> wpLoopOracleSql,
    "q360_unigram_lm_tokenizer" -> ulmOracleSql,
    "q157_bpe_merges" ->
      s"""WITH vocab AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |         '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seg
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  GROUP BY w
         |),
         |pc1 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms FROM vocab))
         |  GROUP BY pair
         |),
         |top1 AS (SELECT pair AS top_pair, cnt AS top_cnt FROM pc1
         |         ORDER BY cnt DESC, pair ASC LIMIT 1),
         |vocab2 AS (
         |  SELECT w, freq,
         |         replace(seg, ' ' || replace(top_pair, ' ', '  ') || ' ',
         |                 ' ' || replace(top_pair, ' ', '') || ' ') AS seg
         |  FROM vocab, top1
         |),
         |pc2 AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(syms)),
         |                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
         |    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms FROM vocab2))
         |  GROUP BY pair
         |),
         |top2 AS (SELECT pair AS top_pair, cnt AS top_cnt FROM pc2
         |         ORDER BY cnt DESC, pair ASC LIMIT 1)
         |SELECT CAST(round AS INT) AS round, pair, merged, cnt FROM (
         |  SELECT 1 AS round, top_pair AS pair,
         |         replace(top_pair, ' ', '') AS merged, top_cnt AS cnt FROM top1
         |  UNION ALL
         |  SELECT 2, top_pair, replace(top_pair, ' ', ''), top_cnt FROM top2)
         |ORDER BY round""".stripMargin,
    "q156_curation_funnel" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |         CAST(len(toks) AS BIGINT) AS ntok,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nosp,
         |         CAST(len(list_filter(['the','a'],
         |                              t -> list_contains(toks, t))) AS BIGINT) AS n_stop_present,
         |         md5(text) AS digest
         |  FROM (SELECT doc_id, lang, text, $toksSql AS toks FROM documents)
         |),
         |top AS (
         |  SELECT doc_id, max(c) AS top_cnt FROM (
         |    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |    FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |    GROUP BY doc_id, tok)
         |  GROUP BY doc_id
         |),
         |flagged AS (
         |  SELECT b.doc_id, b.digest,
         |         (b.lang = 'en') AS lang_ok,
         |         (b.ntok >= 25 AND b.ntok <= 90
         |            AND ${ratioSql("b.nosp", "b.ntok")} >= 4.0
         |            AND ${ratioSql("b.nosp", "b.ntok")} < 7.0
         |            AND b.n_stop_present >= 2
         |            AND t.top_cnt * 10 <= b.ntok) AS q_ok
         |  FROM base b JOIN top t USING (doc_id)
         |),
         |ranked AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n2,
         |         CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n3
         |  FROM (SELECT doc_id,
         |               row_number() OVER (PARTITION BY digest ORDER BY doc_id ASC) AS rn
         |        FROM flagged WHERE lang_ok AND q_ok)
         |),
         |totals AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n0,
         |         CAST(count(*) FILTER (lang_ok) AS BIGINT) AS n1
         |  FROM flagged
         |)
         |SELECT stage, n_in, n_out,
         |       ${ratioSql("n_in - n_out", "n_in")} AS drop_rate
         |FROM (
         |  SELECT '1_lang' AS stage, n0 AS n_in, n1 AS n_out FROM totals
         |  UNION ALL
         |  SELECT '2_quality', n1, n2 FROM totals, ranked
         |  UNION ALL
         |  SELECT '3_dedup', n2, n3 FROM ranked)
         |ORDER BY stage""".stripMargin,
    "q147_quality_gopher" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS ntok,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nosp,
         |         CAST(len(list_filter(['the','a'],
         |                              t -> list_contains(toks, t))) AS BIGINT) AS n_stop_present
         |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |),
         |top AS (
         |  SELECT doc_id, max(c) AS top_cnt FROM (
         |    SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
         |    FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |    GROUP BY doc_id, tok)
         |  GROUP BY doc_id
         |),
         |r AS (
         |  SELECT b.doc_id, b.ntok, t.top_cnt,
         |         ${ratioSql("b.nosp", "b.ntok")} AS mean_tok_len,
         |         (b.ntok >= 25 AND b.ntok <= 90) AS r_len,
         |         (${ratioSql("b.nosp", "b.ntok")} >= 4.0
         |            AND ${ratioSql("b.nosp", "b.ntok")} < 7.0) AS r_wordlen,
         |         (b.n_stop_present >= 2) AS r_stop,
         |         (t.top_cnt * 10 <= b.ntok) AS r_rep
         |  FROM base b JOIN top t USING (doc_id)
         |)
         |SELECT doc_id, ntok, top_cnt, mean_tok_len,
         |       r_len, r_wordlen, r_stop, r_rep,
         |       (r_len AND r_wordlen AND r_stop AND r_rep) AS keep,
         |       concat_ws(',',
         |         CASE WHEN NOT r_len THEN 'len' END,
         |         CASE WHEN NOT r_wordlen THEN 'wordlen' END,
         |         CASE WHEN NOT r_stop THEN 'stop' END,
         |         CASE WHEN NOT r_rep THEN 'rep' END) AS reasons
         |FROM r
         |ORDER BY doc_id""".stripMargin,
    "q148_domain_blocklist" ->
      """SELECT doc_id, domain,
        |       CASE WHEN domain = 'src7.fr.site' OR domain LIKE '%.src7.fr.site'
        |              THEN 'src7.fr.site'
        |            WHEN domain = 'es.site' OR domain LIKE '%.es.site'
        |              THEN 'es.site'
        |            ELSE 'none' END AS matched_rule,
        |       (domain = 'src7.fr.site' OR domain LIKE '%.src7.fr.site'
        |          OR domain = 'es.site' OR domain LIKE '%.es.site') AS blocked
        |FROM (SELECT doc_id, source || '.' || lang || '.site' AS domain
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q149_inverted_index" ->
      s"""WITH tf AS (
         |  SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |  GROUP BY tok, doc_id
         |)
         |SELECT tok AS term,
         |       count(*) AS df,
         |       CAST(sum(tf) AS BIGINT) AS total_tf,
         |       array_to_string(
         |         (list(lpad(CAST(doc_id AS VARCHAR), 8, '0')
         |               || ':' || CAST(tf AS VARCHAR)
         |               ORDER BY doc_id))[1:5], ',') AS postings_head
         |FROM tf
         |GROUP BY tok
         |ORDER BY term""".stripMargin,
    "q131_quality_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_corpus FROM v),
        |sc AS (SELECT t.doc_id,
        |              CAST(length(bin(n.n_corpus)) AS BIGINT)
        |                - CAST(length(bin(v.cnt)) AS BIGINT) AS surprise
        |       FROM toks t JOIN v ON t.tok = v.tok, n),
        |agg AS (SELECT doc_id, count(*) AS n_toks, sum(surprise) AS surprise_bits
        |        FROM sc GROUP BY 1)
        |SELECT doc_id,
        |       CAST(n_toks AS BIGINT) AS n_toks,
        |       CAST(surprise_bits AS BIGINT) AS surprise_bits,
        |       CAST(surprise_bits AS DOUBLE) / CAST(n_toks AS DOUBLE) AS mean_bits,
        |       (CAST(surprise_bits AS DOUBLE) / CAST(n_toks AS DOUBLE)) <= 6.0 AS keep
        |FROM agg
        |ORDER BY doc_id""".stripMargin,
    "q132_bm25_search" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |d2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS len, toks FROM d),
        |st AS (SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS sum_len FROM d2),
        |tf AS (SELECT doc_id, len, tok, count(*) AS tf
        |       FROM (SELECT doc_id, len, unnest(toks) AS tok FROM d2)
        |       WHERE tok IN ('join', 'scan', 'window')
        |       GROUP BY 1, 2, 3),
        |dft AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.tok,
        |              CAST(CAST(length(bin(st.n_docs)) AS BIGINT)
        |                   - CAST(length(bin(dft.df)) AS BIGINT) AS DOUBLE)
        |                * (tf.tf * 2.2)
        |                / (tf.tf + 1.2 * (0.25 + 0.75 * tf.len
        |                     / (CAST(st.sum_len AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))
        |                AS score_t
        |       FROM tf JOIN dft ON tf.tok = dft.tok, st),
        |agg AS (SELECT doc_id,
        |               coalesce(sum(CASE WHEN tok = 'join' THEN score_t END), 0.0) AS s_join,
        |               coalesce(sum(CASE WHEN tok = 'scan' THEN score_t END), 0.0) AS s_scan,
        |               coalesce(sum(CASE WHEN tok = 'window' THEN score_t END), 0.0) AS s_window
        |        FROM sc GROUP BY doc_id)
        |SELECT doc_id, s_join, s_scan, s_window,
        |       s_join + s_scan + s_window AS score
        |FROM agg
        |ORDER BY score DESC, doc_id ASC
        |LIMIT 10""".stripMargin,
    "q133_collocation_pmi" ->
      """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |uni AS (SELECT tok, count(*) AS c1
        |        FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY 1),
        |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM uni),
        |bi0 AS (SELECT unnest(list_transform(range(1, len(toks)),
        |                                     i -> toks[i] || ' ' || toks[i+1])) AS bg
        |        FROM d),
        |bi AS (SELECT bg, count(*) AS cxy FROM bi0 GROUP BY 1 HAVING count(*) >= 5),
        |b2 AS (SELECT bg, cxy,
        |              string_split(bg, ' ')[1] AS w1,
        |              string_split(bg, ' ')[2] AS w2
        |       FROM bi),
        |j AS (SELECT b2.bg, b2.cxy, u1.c1 AS cx, u2.c1 AS cy
        |      FROM b2 JOIN uni u1 ON b2.w1 = u1.tok
        |               JOIN uni u2 ON b2.w2 = u2.tok)
        |SELECT bg,
        |       CAST(cxy AS BIGINT) AS cxy,
        |       CAST(cx AS BIGINT) AS cx,
        |       CAST(cy AS BIGINT) AS cy,
        |       (CAST(cxy AS DOUBLE) * CAST(n.n AS DOUBLE))
        |         / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)) AS pmi_ratio
        |FROM j, n
        |ORDER BY pmi_ratio DESC, bg ASC
        |LIMIT 20""".stripMargin,
    "q127_mix_rebalance" ->
      s"""WITH d AS (SELECT doc_id, lang, $docIdDigestSql AS hkey FROM documents),
         |c AS (SELECT lang, count(*) AS n_total FROM d GROUP BY 1),
         |q AS (SELECT min(n_total) AS quota FROM c),
         |r AS (SELECT lang, row_number() OVER (PARTITION BY lang
         |                                      ORDER BY hkey ASC, doc_id ASC) AS rn
         |      FROM d),
         |k AS (SELECT lang, count(*) AS n_kept FROM r, q WHERE rn <= quota GROUP BY lang),
         |t AS (SELECT sum(n_total) AS tot FROM c),
         |tk AS (SELECT sum(n_kept) AS tot_k FROM k)
         |SELECT c.lang,
         |       CAST(c.n_total AS BIGINT) AS n_total,
         |       CAST(k.n_kept AS BIGINT) AS n_kept,
         |       CAST(c.n_total AS DOUBLE) / CAST(t.tot AS DOUBLE) AS share_before,
         |       CAST(k.n_kept AS DOUBLE) / CAST(tk.tot_k AS DOUBLE) AS share_after
         |FROM c JOIN k ON c.lang = k.lang, t, tk
         |ORDER BY c.lang""".stripMargin,
    "q128_dedup_lines" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |d2 AS (SELECT doc_id, toks,
        |              (CAST(len(toks) AS BIGINT) + 7) // 8 AS n_lines
        |       FROM d),
        |l AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
        |             array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS line_text
        |      FROM d2, unnest(range(0, n_lines)) AS t(i)),
        |l2 AS (SELECT *, CAST(('0x' || substr(md5(line_text), 1, 10)) AS BIGINT) AS ld
        |       FROM l),
        |dup AS (SELECT ld FROM l2 GROUP BY ld HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT l2.doc_id, l2.line_idx, l2.line_text,
        |             (dup.ld IS NOT NULL) AS is_dup
        |      FROM l2 LEFT JOIN dup ON l2.ld = dup.ld),
        |reb AS (SELECT doc_id,
        |               count(*) AS n_lines,
        |               sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup_lines,
        |               coalesce(array_to_string(
        |                 list(line_text ORDER BY line_idx) FILTER (WHERE NOT is_dup),
        |                 ' '), '') AS clean_text
        |        FROM m GROUP BY doc_id)
        |SELECT doc_id,
        |       CAST(n_lines AS BIGINT) AS n_lines,
        |       CAST(n_dup_lines AS BIGINT) AS n_dup_lines,
        |       CAST(length(clean_text) AS BIGINT) AS clean_len,
        |       md5(clean_text) AS clean_md5
        |FROM reb
        |ORDER BY doc_id""".stripMargin,
    "q40_dedup_exact" ->
      """SELECT count(*) AS n_docs,
        |       count(DISTINCT sha256(text)) AS n_uniq_text,
        |       count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))) AS n_uniq_tokenset
        |FROM documents""".stripMargin,
    "q260_consistent_hash_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS hv
         |  FROM documents
         |), f AS (
         |  SELECT doc_id, hv,
         |         hv * 100 < 16777216 * 5 AS in5,
         |         hv * 100 < 16777216 * 10 AS in10
         |  FROM d
         |)
         |SELECT count(*) AS n_docs,
         |       CAST(sum(CASE WHEN in5 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample5,
         |       CAST(sum(CASE WHEN in10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample10,
         |       ${ratioSql("sum(CASE WHEN in5 THEN 1 ELSE 0 END)", "count(*)")} AS rate5,
         |       ${ratioSql("sum(CASE WHEN in10 THEN 1 ELSE 0 END)", "count(*)")} AS rate10,
         |       CAST(sum(CASE WHEN in5 AND NOT in10 THEN 1 ELSE 0 END) AS BIGINT) AS nesting_violations
         |FROM f""".stripMargin,
    "q248_quality_mixture_plan" ->
      s"""WITH cells AS (
         |  SELECT lang,
         |         CASE WHEN ntok >= 40 THEN 'long'
         |              WHEN ntok >= 20 THEN 'mid' ELSE 'short' END AS band,
         |         count(*) AS n_docs
         |  FROM (SELECT lang, CAST(len($toksSql) AS BIGINT) AS ntok FROM documents)
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total, count(*) AS n_cells
         |  FROM cells
         |)
         |SELECT lang, band, n_docs,
         |       ${ratioSql("n_docs", "n_total")} AS share,
         |       ${ratioSql("n_total", "n_cells * n_docs")} AS repeat_factor
         |FROM cells CROSS JOIN tot
         |ORDER BY lang, band""".stripMargin,
    "q249_ngram_novelty" ->
      s"""WITH sh AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct($shingle3Sql)) AS sh
         |  FROM (
         |    SELECT doc_id, $tokenHashesSql AS th
         |    FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |  )
         |), fst AS (
         |  SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY 1
         |), per_doc AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |         CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |  FROM sh JOIN fst USING (sh)
         |  GROUP BY 1
         |)
         |SELECT doc_id, n_shingles, n_novel,
         |       ${ratioSql("n_novel", "n_shingles")} AS novelty
         |FROM per_doc
         |ORDER BY novelty ASC, doc_id ASC
         |LIMIT 20""".stripMargin,
    "q250_embedding_norm_census" ->
      """SELECT label, count(*) AS n_vecs,
        |       CAST(sum(CASE WHEN norm2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       min(norm2) AS min_norm2, max(norm2) AS max_norm2
        |FROM (
        |  SELECT label,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           CAST(list_transform(embedding, x -> CAST(x AS DOUBLE)) AS DOUBLE[])),
        |           (acc, x) -> acc + x * x) AS norm2
        |  FROM embeddings)
        |GROUP BY 1
        |ORDER BY label""".stripMargin,
    "q239_token_fertility" ->
      s"""SELECT lang, n_docs, sum_words, sum_tokens, sum_chars,
         |       ${ratioSql("sum_tokens", "sum_words")} AS fertility,
         |       ${ratioSql("sum_chars", "sum_tokens")} AS chars_per_token
         |FROM (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(w) AS BIGINT) AS sum_words,
         |         CAST(sum(t) AS BIGINT) AS sum_tokens,
         |         CAST(sum(c) AS BIGINT) AS sum_chars
         |  FROM (
         |    SELECT lang, CAST(len($toksSql) AS BIGINT) AS w,
         |           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS t,
         |           CAST(length(text) AS BIGINT) AS c
         |    FROM documents)
         |  GROUP BY 1
         |)
         |ORDER BY lang""".stripMargin,
    "q240_minhash_accuracy_gate" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val aList = MinhashA.mkString("[", ", ", "]")
      val bList = MinhashB.mkString("[", ", ", "]")
      s"""WITH base AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(hs) AS dsh,
         |         list_transform(range(12), j2 -> list_min(list_transform(hs, h -> ($aList[CAST(j2 AS INT)+1] * h + $bList[CAST(j2 AS INT)+1]) % $MinhashPrime))) AS sig
         |  FROM (
         |    SELECT doc_id, $shingle3Sql AS hs
         |    FROM (
         |      SELECT doc_id, $tokenHashesSql AS th
         |      FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |    )
         |  )
         |), keyed AS MATERIALIZED (
         |  SELECT doc_id, j AS band,
         |         md5(CAST(sig[3*j+1] AS VARCHAR) || ',' || CAST(sig[3*j+2] AS VARCHAR) || ',' || CAST(sig[3*j+3] AS VARCHAR)) AS bkey
         |  FROM base, (SELECT unnest([0,1,2,3]) AS j)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |), scored AS (
         |  SELECT doc1, doc2,
         |         CAST(list_sum(list_transform(range(12), i -> CASE WHEN s1.sig[CAST(i AS INT)+1] = s2.sig[CAST(i AS INT)+1] THEN 1 ELSE 0 END)) AS BIGINT) AS match_k,
         |         CAST(len(list_intersect(s1.dsh, s2.dsh)) AS BIGINT) AS common,
         |         CAST(len(s1.dsh) AS BIGINT) AS n1,
         |         CAST(len(s2.dsh) AS BIGINT) AS n2
         |  FROM cand
         |  JOIN base s1 ON cand.doc1 = s1.doc_id
         |  JOIN base s2 ON cand.doc2 = s2.doc_id
         |)
         |SELECT doc1, doc2, match_k, common, n1, n2,
         |       ${ratioSql("match_k", "12")} AS est_jac,
         |       ${ratioSql("common", "n1 + n2 - common")} AS exact_jac
         |FROM scored
         |ORDER BY doc1, doc2""".stripMargin
    },
    "q241_deterministic_shuffle" ->
      """SELECT bucket, lang, count(*) AS n_docs,
        |       min(hkey || ':' || CAST(doc_id AS VARCHAR)) AS first_member
        |FROM (
        |  SELECT doc_id, lang,
        |         md5('shuf:' || CAST(doc_id AS VARCHAR)) AS hkey,
        |         substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 1) AS bucket
        |  FROM documents)
        |GROUP BY 1, 2
        |ORDER BY bucket, lang""".stripMargin,
    "q41_dedup_minhash_lsh" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val aList = MinhashA.mkString("[", ", ", "]")
      val bList = MinhashB.mkString("[", ", ", "]")
      s"""SELECT band, bucket_size, count(*) AS n_buckets FROM (
         |  SELECT band, bkey, count(*) AS bucket_size FROM (
         |    SELECT doc_id, j AS band,
         |           md5(CAST(sig[3*j+1] AS VARCHAR) || ',' || CAST(sig[3*j+2] AS VARCHAR) || ',' || CAST(sig[3*j+3] AS VARCHAR)) AS bkey
         |    FROM (
         |      SELECT doc_id,
         |             list_transform(range(12), j2 -> list_min(list_transform(hs, h -> ($aList[CAST(j2 AS INT)+1] * h + $bList[CAST(j2 AS INT)+1]) % $MinhashPrime))) AS sig
         |      FROM (
         |        SELECT doc_id, $shingle3Sql AS hs
         |        FROM (
         |          SELECT doc_id, $tokenHashesSql AS th
         |          FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |        )
         |      )
         |    ), (SELECT unnest([0,1,2,3]) AS j)
         |  ) GROUP BY band, bkey
         |) GROUP BY band, bucket_size
         |ORDER BY band, bucket_size""".stripMargin
    },
    // priority-sampling oracle: same salted hash, same single-divide
    // priorities, same top-(k+1)/τ/sample selection, same exact
    // cross-multiplied HT terms — full replica; the accuracy flag is
    // measured, frozen by the hash seed
    "q321_priority_sample" ->
      s"""WITH d AS (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS w,
         |         CAST(('0x' || substr(md5('psample:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 1 AS hv1
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |), p AS (
         |  SELECT doc_id, w, hv1,
         |         CAST(w AS DOUBLE) * 16777216.0 / CAST(hv1 AS DOUBLE) AS priority
         |  FROM d
         |), top AS MATERIALIZED (
         |  SELECT * FROM p ORDER BY priority DESC, doc_id ASC LIMIT 151
         |), tau AS MATERIALIZED (
         |  SELECT w AS w_t, hv1 AS hv_t, priority AS tau, doc_id AS tau_doc
         |  FROM top ORDER BY priority ASC, doc_id DESC LIMIT 1
         |), samp AS (
         |  SELECT t.doc_id, t.w, tau.w_t, tau.hv_t
         |  FROM top t, tau
         |  WHERE t.priority > tau.tau OR (t.priority = tau.tau AND t.doc_id < tau.tau_doc)
         |), est AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_sample,
         |         CAST(sum(doc_id) AS BIGINT) AS sample_id_sum,
         |         CAST(sum(CASE WHEN w * hv_t >= w_t * 16777216 THEN w ELSE 0 END) AS BIGINT) AS s_big,
         |         CAST(sum(CASE WHEN w * hv_t >= w_t * 16777216 THEN 0 ELSE 1 END) AS BIGINT) AS m
         |  FROM samp
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_corpus,
         |         CAST(sum(w) AS BIGINT) AS true_total_w
         |  FROM d
         |)
         |SELECT n_corpus, true_total_w, n_sample, sample_id_sum, s_big, m,
         |       CAST(s_big AS DOUBLE) + CAST(m AS DOUBLE)
         |         * (CAST(w_t AS DOUBLE) * 16777216.0 / CAST(hv_t AS DOUBLE)) AS ht_estimate,
         |       abs(CAST(s_big AS DOUBLE) + CAST(m AS DOUBLE)
         |         * (CAST(w_t AS DOUBLE) * 16777216.0 / CAST(hv_t AS DOUBLE))
         |         - CAST(true_total_w AS DOUBLE))
         |         <= 0.15 * CAST(true_total_w AS DOUBLE) AS ht_within_15pct
         |FROM est, tot, tau""".stripMargin,
    // fusion oracle: both rankers, both top-10 windows, the exact-integer
    // RRF and the fused re-rank all replayed — the jaccard/cosine sort
    // keys are single IEEE trees over exact inputs (q195 contract), and
    // every rank/score that crosses the hash is an integer
    "q318_hybrid_rrf_fusion" ->
      s"""WITH qd AS (SELECT doc_id AS qid, list_distinct($toksSql) AS qts
         |            FROM documents WHERE doc_id < 8),
         |cd AS (SELECT doc_id AS vid, list_distinct($toksSql) AS ts FROM documents),
         |lex0 AS (
         |  SELECT qid, vid,
         |         CAST(len(list_filter(qts, x -> list_contains(ts, x))) AS BIGINT) AS inter,
         |         CAST(len(qts) AS BIGINT) + CAST(len(ts) AS BIGINT)
         |           - CAST(len(list_filter(qts, x -> list_contains(ts, x))) AS BIGINT) AS uni
         |  FROM qd, cd WHERE qid <> vid),
         |lex AS (
         |  SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY
         |           (CASE WHEN uni = 0 THEN 0.0
         |                 ELSE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) END) DESC,
         |           vid ASC) AS rl
         |  FROM lex0),
         |lext AS (SELECT qid, vid, rl FROM lex WHERE rl <= 10),
         |qe AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id < 8),
         |ce AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
         |sem0 AS (SELECT qid, vid, ${cosSql("qemb", "ve")} AS cos
         |         FROM qe, ce WHERE qid <> vid),
         |sem AS (SELECT qid, vid, row_number() OVER (PARTITION BY qid
         |          ORDER BY cos DESC, vid ASC) AS rs FROM sem0),
         |semt AS (SELECT qid, vid, rs FROM sem WHERE rs <= 10),
         |f AS (SELECT coalesce(l.qid, s.qid) AS qid, coalesce(l.vid, s.vid) AS vid,
         |             l.rl, s.rs
         |      FROM lext l FULL OUTER JOIN semt s ON l.qid = s.qid AND l.vid = s.vid),
         |g AS (SELECT qid, vid,
         |             coalesce(CAST(142813628717760 / (rl + 60) AS BIGINT), 0)
         |               + coalesce(CAST(142813628717760 / (rs + 60) AS BIGINT), 0) AS rrf_score,
         |             (rl IS NOT NULL AND rs IS NOT NULL) AS in_both
         |      FROM f),
         |r AS (SELECT qid, vid, rrf_score, in_both,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY rrf_score DESC, vid ASC) AS fr
         |      FROM g)
         |SELECT qid, CAST(fr AS BIGINT) AS fused_rank, vid AS doc_id,
         |       rrf_score, in_both
         |FROM r WHERE fr <= 5
         |ORDER BY qid, fused_rank""".stripMargin,
    // decontamination oracle: same split twin, same zipped positional
    // stream, same islands key — the eval screen is a plain digest
    // semi-join both engines replay exactly
    "q316_eval_span_decontamination" ->
      s"""WITH hvt AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS hv
         |  FROM documents
         |), d AS MATERIALIZED (
         |  SELECT doc_id, $shingle3Sql AS hs
         |  FROM (SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |), pos AS MATERIALIZED (
         |  SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos, unnest(hs) AS h
         |  FROM d
         |), ev AS (
         |  SELECT DISTINCT h FROM pos JOIN hvt USING (doc_id)
         |  WHERE hv * 10 < 16777216
         |), mark AS (
         |  SELECT p.doc_id, p.pos
         |  FROM pos p JOIN hvt USING (doc_id) JOIN ev USING (h)
         |  WHERE NOT (hv * 10 < 16777216)
         |), runs AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM mark
         |), spans AS (
         |  SELECT doc_id, min(pos) AS sp, count(*) AS len
         |  FROM runs GROUP BY doc_id, grp
         |), agg AS (
         |  SELECT doc_id,
         |         CAST(count(*) AS BIGINT) AS n_contam_spans,
         |         CAST(sum(len) AS BIGINT) AS n_contam_positions,
         |         CAST(max(len) + 2 AS BIGINT) AS max_span_tokens
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT hvt.doc_id,
         |       coalesce(a.n_contam_spans, 0) AS n_contam_spans,
         |       coalesce(a.n_contam_positions, 0) AS n_contam_positions,
         |       coalesce(a.max_span_tokens, 0) AS max_span_tokens,
         |       a.doc_id IS NOT NULL AS contaminated
         |FROM hvt
         |LEFT JOIN agg a ON hvt.doc_id = a.doc_id
         |WHERE NOT (hvt.hv * 10 < 16777216)
         |ORDER BY hvt.doc_id""".stripMargin,
    // skyline oracle: the INDEPENDENT all-pairs dominance formulation
    // (NOT EXISTS) — agreement proves the census decomposition, not just
    // replays it; dominance counts by correlated subquery the same way
    "q315_pareto_frontier" ->
      s"""WITH m AS MATERIALIZED (
         |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS x,
         |         CAST(len(list_distinct(toks)) AS BIGINT) AS y
         |  FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |), f AS (
         |  SELECT * FROM m p WHERE NOT EXISTS (
         |    SELECT 1 FROM m q
         |    WHERE q.x >= p.x AND q.y >= p.y AND (q.x > p.x OR q.y > p.y))
         |)
         |SELECT doc_id, x AS n_tokens, y AS n_distinct_tokens,
         |       (SELECT CAST(count(*) AS BIGINT) FROM m q
         |        WHERE f.x >= q.x AND f.y >= q.y
         |          AND (f.x > q.x OR f.y > q.y)) AS n_dominated
         |FROM f ORDER BY doc_id""".stripMargin,
    // span oracle: the same positional digest stream (zipped parallel
    // unnests), the same df≥2 screen, the same islands key — pure
    // integer arithmetic both engines replay exactly; struct max
    // compares lexicographically on both engines (the q294 idiom)
    "q314_duplicate_span_extraction" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, $shingle3Sql AS hs
         |  FROM (SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |), pos AS MATERIALIZED (
         |  SELECT doc_id, unnest(range(1, len(hs) + 1)) AS pos, unnest(hs) AS h
         |  FROM d
         |), dup AS (
         |  SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         |), mark AS (
         |  SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (h)
         |), runs AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM mark
         |), spans AS (
         |  SELECT doc_id, min(pos) AS sp, count(*) AS len
         |  FROM runs GROUP BY doc_id, grp
         |), agg AS (
         |  SELECT doc_id,
         |         CAST(count(*) AS BIGINT) AS n_dup_spans,
         |         CAST(sum(len) AS BIGINT) AS n_dup_positions,
         |         max({'l': len, 'ns': -sp}) AS m
         |  FROM spans GROUP BY doc_id
         |)
         |SELECT documents.doc_id,
         |       coalesce(a.n_dup_spans, 0) AS n_dup_spans,
         |       coalesce(a.n_dup_positions, 0) AS n_dup_positions,
         |       CAST(coalesce(a.m.l + 2, 0) AS BIGINT) AS max_span_tokens,
         |       CAST(coalesce(-a.m.ns, -1) AS BIGINT) AS first_max_span_start
         |FROM documents
         |LEFT JOIN agg a ON documents.doc_id = a.doc_id
         |ORDER BY documents.doc_id""".stripMargin,
    // Full-recompute oracle for the incremental index (q305's
    // maintained≡recomputed pattern): rebuild the WHOLE band index from
    // scratch, split by the same consistent hash, ask the same two dup
    // questions — agreement proves the delta-structured plan equals the
    // from-scratch run.
    "q312_incremental_lsh_dedup" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val aList = MinhashA.mkString("[", ", ", "]")
      val bList = MinhashB.mkString("[", ", ", "]")
      s"""WITH keyed AS (
         |  SELECT doc_id, j AS band,
         |         md5(CAST(sig[3*j+1] AS VARCHAR) || ',' || CAST(sig[3*j+2] AS VARCHAR) || ',' || CAST(sig[3*j+3] AS VARCHAR)) AS bkey
         |  FROM (
         |    SELECT doc_id,
         |           list_transform(range(12), j2 -> list_min(list_transform(hs, h -> ($aList[CAST(j2 AS INT)+1] * h + $bList[CAST(j2 AS INT)+1]) % $MinhashPrime))) AS sig
         |    FROM (
         |      SELECT doc_id, $shingle3Sql AS hs
         |      FROM (
         |        SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |      )
         |    )
         |  ), (SELECT unnest([0,1,2,3]) AS j)
         |), hv AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5('incdedup:' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) AS hv
         |  FROM documents
         |), batch AS (SELECT doc_id FROM hv WHERE hv * 4 < 16777216),
         |bk AS (SELECT k.* FROM keyed k JOIN batch USING (doc_id)),
         |ik AS (SELECT k.* FROM keyed k JOIN hv USING (doc_id) WHERE NOT (hv * 4 < 16777216)),
         |vs AS (
         |  SELECT b.doc_id, CAST(count(DISTINCT i.doc_id) AS BIGINT) AS n_corpus_candidates
         |  FROM bk b JOIN ik i ON b.band = i.band AND b.bkey = i.bkey
         |  GROUP BY 1
         |), ib AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM bk a JOIN bk b2 ON a.band = b2.band AND a.bkey = b2.bkey AND a.doc_id <> b2.doc_id
         |)
         |SELECT d.doc_id,
         |       coalesce(vs.n_corpus_candidates, 0) AS n_corpus_candidates,
         |       vs.doc_id IS NOT NULL AS dup_vs_corpus,
         |       ib.doc_id IS NOT NULL AS dup_in_batch
         |FROM batch d
         |LEFT JOIN vs ON d.doc_id = vs.doc_id
         |LEFT JOIN ib ON d.doc_id = ib.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    // Transitive closure by recursive CTE (min reachable id per doc) —
    // the same unique fixpoint the Spark side reaches by label propagation.
    "q76_dedup_clusters" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val aList = MinhashA.mkString("[", ", ", "]")
      val bList = MinhashB.mkString("[", ", ", "]")
      s"""WITH RECURSIVE keyed AS (
         |  SELECT doc_id, j AS band,
         |         md5(CAST(sig[3*j+1] AS VARCHAR) || ',' || CAST(sig[3*j+2] AS VARCHAR) || ',' || CAST(sig[3*j+3] AS VARCHAR)) AS bkey
         |  FROM (
         |    SELECT doc_id,
         |           list_transform(range(12), j2 -> list_min(list_transform(hs, h -> ($aList[CAST(j2 AS INT)+1] * h + $bList[CAST(j2 AS INT)+1]) % $MinhashPrime))) AS sig
         |    FROM (
         |      SELECT doc_id, $shingle3Sql AS hs
         |      FROM (
         |        SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |      )
         |    )
         |  ), (SELECT unnest([0,1,2,3]) AS j)
         |), edges AS (
         |  SELECT a.doc_id AS s, b.doc_id AS t
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2
         |), reach(doc, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT x.doc, e.t FROM reach x JOIN edges e ON x.r = e.s
         |), labels AS (
         |  SELECT doc, min(r) AS lab FROM reach GROUP BY doc
         |)
         |SELECT lab AS cluster_id, count(*) AS n_docs,
         |       array_to_string(list_sort(list(doc)), ',') AS members
         |FROM labels GROUP BY lab HAVING count(*) >= 2
         |ORDER BY cluster_id""".stripMargin
    },
    // q76's label CTE chain + the keep-longest survivor window.
    "q174_cluster_survivorship" -> {
      import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime}
      val aList = MinhashA.mkString("[", ", ", "]")
      val bList = MinhashB.mkString("[", ", ", "]")
      s"""WITH RECURSIVE keyed AS (
         |  SELECT doc_id, j AS band,
         |         md5(CAST(sig[3*j+1] AS VARCHAR) || ',' || CAST(sig[3*j+2] AS VARCHAR) || ',' || CAST(sig[3*j+3] AS VARCHAR)) AS bkey
         |  FROM (
         |    SELECT doc_id,
         |           list_transform(range(12), j2 -> list_min(list_transform(hs, h -> ($aList[CAST(j2 AS INT)+1] * h + $bList[CAST(j2 AS INT)+1]) % $MinhashPrime))) AS sig
         |    FROM (
         |      SELECT doc_id, $shingle3Sql AS hs
         |      FROM (
         |        SELECT doc_id, $tokenHashesSql AS th
         |        FROM (SELECT doc_id, toks FROM (SELECT doc_id, $toksSql AS toks FROM documents) WHERE len(toks) >= 3)
         |      )
         |    )
         |  ), (SELECT unnest([0,1,2,3]) AS j)
         |), edges AS (
         |  SELECT a.doc_id AS s, b.doc_id AS t
         |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2
         |), reach(doc, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT x.doc, e.t FROM reach x JOIN edges e ON x.r = e.s
         |), labels AS (
         |  SELECT doc, min(r) AS lab FROM reach GROUP BY doc
         |), sized AS (
         |  SELECT lab, count(*) AS n_docs FROM labels GROUP BY lab HAVING count(*) >= 2
         |), ranked AS (
         |  SELECT l.lab, l.doc, CAST(length(d.text) AS BIGINT) AS len, s.n_docs,
         |         row_number() OVER (PARTITION BY l.lab
         |                            ORDER BY length(d.text) DESC, l.doc ASC) AS rn
         |  FROM labels l
         |  JOIN sized s ON l.lab = s.lab
         |  JOIN (SELECT doc_id, text FROM documents) d ON l.doc = d.doc_id
         |)
         |SELECT lab AS cluster_id,
         |       max(CASE WHEN rn = 1 THEN doc END) AS survivor_doc,
         |       max(CASE WHEN rn = 1 THEN len END) AS survivor_len,
         |       max(n_docs) AS n_docs,
         |       max(n_docs) - 1 AS n_removed
         |FROM ranked
         |GROUP BY lab
         |ORDER BY cluster_id""".stripMargin
    },
    "q42_dedup_simhash" ->
      s"""SELECT simhash, count(*) AS n_docs, min(doc_id) AS min_doc FROM (
         |  SELECT doc_id,
         |         array_to_string(list_transform(range(1, 17), i ->
         |           CASE WHEN list_reduce(list_prepend(0, list_transform(hs, h ->
         |                  CASE WHEN (h >> CAST(i - 1 AS INT)) & 1 = 1 THEN 1 ELSE -1 END)),
         |                (acc, x) -> acc + x) >= 0
         |           THEN '1' ELSE '0' END), '') AS simhash
         |  FROM (SELECT doc_id, $tokenHashesSql AS hs
         |        FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |) ) GROUP BY simhash
         |ORDER BY simhash""".stripMargin,
    "q43_dedup_ngram_jaccard" ->
      s"""WITH ex AS (
         |  SELECT doc_id, block, CAST(len(dshin) AS BIGINT) AS nsh, unnest(dshin) AS sh
         |  FROM (SELECT doc_id, lang || '|' || CAST(n_chars // 500 AS VARCHAR) AS block, list_distinct($shingle3Sql) AS dshin
         |        FROM (SELECT doc_id, lang, n_chars, $tokenHashesSql AS th
         |              FROM (SELECT doc_id, lang, n_chars, $toksSql AS toks FROM documents)))
         |), okx AS (
         |  SELECT e.* FROM ex e
         |  JOIN (SELECT block, sh FROM ex GROUP BY block, sh HAVING count(*) <= $JaccardDfCap) d
         |    ON e.block = d.block AND e.sh = d.sh
         |)
         |SELECT doc1, doc2, CAST(common AS DOUBLE) / CAST(nsh1 + nsh2 - common AS DOUBLE) AS jac
         |FROM (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, a.nsh AS nsh1, b.nsh AS nsh2, count(*) AS common
         |  FROM okx a JOIN okx b ON a.sh = b.sh AND a.block = b.block AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4
         |)
         |ORDER BY jac DESC, doc1 ASC, doc2 ASC
         |LIMIT 20""".stripMargin,
    "q44_dedup_embedding" ->
      s"""SELECT a.vec_id AS vec1, b.vec_id AS vec2,
         |       ${cosSql("a.embedding", "b.embedding")} AS cos
         |FROM (SELECT vec_id, embedding,
         |             array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |      FROM embeddings) a
         |JOIN (SELECT vec_id, embedding,
         |             array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |      FROM embeddings) b
         |  ON a.key = b.key AND a.vec_id < b.vec_id
         |ORDER BY cos DESC, vec1 ASC, vec2 ASC
         |LIMIT 20""".stripMargin,
    "q64_dedup_embedding_banded" ->
      s"""WITH keyed AS (
         |  SELECT vec_id, embedding, band,
         |         array_to_string(list_transform(embedding[(16*band+1):(16*band+16)],
         |           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |  FROM embeddings, (SELECT unnest([0,1,2,3]) AS band)
         |)
         |SELECT vec1, vec2, max(pcos) AS cos FROM (
         |  SELECT a.vec_id AS vec1, b.vec_id AS vec2,
         |         ${cosSql("a.embedding", "b.embedding")} AS pcos
         |  FROM keyed a JOIN keyed b
         |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
         |)
         |GROUP BY vec1, vec2
         |ORDER BY cos DESC, vec1 ASC, vec2 ASC
         |LIMIT 20""".stripMargin,
    "q45_ann_brute_force" ->
      s"""SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |         ${cosSql("q.embedding", "c.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
         |  JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id
         |) WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "q46_ann_lsh_bucketed" ->
      s"""SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |         ${cosSql("q.embedding", "c.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |  FROM (SELECT vec_id, embedding,
         |               array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |        FROM embeddings WHERE vec_id < 10) q
         |  JOIN (SELECT vec_id, embedding,
         |               array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |        FROM embeddings) c ON q.key = c.key AND q.vec_id <> c.vec_id
         |) WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    "q57_ann_custom_topk" ->
      s"""SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |         ${cosSql("q.embedding", "c.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |  FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
         |  JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id
         |) WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "q53_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16
         |), assigned AS (
         |  SELECT vec_id, cid, embedding FROM (
         |    SELECT e.vec_id, cents.cid, e.embedding,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosSql("e.embedding", "cents.ce")} DESC, cents.cid ASC) AS rnc
         |    FROM (SELECT * FROM embeddings) e CROSS JOIN cents
         |  ) WHERE rnc = 1
         |)
         |SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |         ${cosSql("q.embedding", "c.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |  FROM (SELECT * FROM assigned WHERE vec_id < 10) q
         |  JOIN assigned c ON q.cid = c.cid AND q.vec_id <> c.vec_id
         |) WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    "q75_ann_ivf_multiprobe" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16
         |), rankedcells AS (
         |  SELECT e.vec_id, cents.cid, e.embedding,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${cosSql("e.embedding", "cents.ce")} DESC, cents.cid ASC) AS rnc
         |  FROM (SELECT * FROM embeddings) e CROSS JOIN cents
         |), assigned AS (
         |  SELECT vec_id, cid, embedding FROM rankedcells WHERE rnc = 1
         |), probes AS (
         |  SELECT vec_id, cid, embedding FROM rankedcells WHERE rnc <= 2
         |)
         |SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
         |  SELECT q.vec_id AS qid, c.vec_id AS vid,
         |         ${cosSql("q.embedding", "c.embedding")} AS cos,
         |         row_number() OVER (PARTITION BY q.vec_id
         |           ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |  FROM (SELECT * FROM probes WHERE vec_id < 10) q
         |  JOIN assigned c ON q.cid = c.cid AND q.vec_id <> c.vec_id
         |) WHERE rn <= 3
         |ORDER BY qid, rn""".stripMargin,
    // Recall replicated exactly (hits/recall columns); recall_ok asserted
    // TRUE — red the moment either approximate path's recall drops below
    // its declared floor in Spark.
    "q70_ann_recall_gate" ->
      s"""WITH exact3 AS (
         |  SELECT qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
         |    JOIN (SELECT * FROM embeddings) c ON q.vec_id <> c.vec_id
         |  ) WHERE rn <= 3
         |), lsh3 AS (
         |  SELECT 'lsh' AS method, qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |    FROM (SELECT vec_id, embedding,
         |                 array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |          FROM embeddings WHERE vec_id < 10) q
         |    JOIN (SELECT vec_id, embedding,
         |                 array_to_string(list_transform(embedding[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS key
         |          FROM embeddings) c ON q.key = c.key AND q.vec_id <> c.vec_id
         |  ) WHERE rn <= 3
         |), cents AS (
         |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16
         |), rankedcells AS (
         |  SELECT e.vec_id, cents.cid, e.embedding,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${cosSql("e.embedding", "cents.ce")} DESC, cents.cid ASC) AS rnc
         |  FROM (SELECT * FROM embeddings) e CROSS JOIN cents
         |), assigned AS (
         |  SELECT vec_id, cid, embedding FROM rankedcells WHERE rnc = 1
         |), probes AS (
         |  SELECT vec_id, cid, embedding FROM rankedcells WHERE rnc <= 2
         |), ivf3 AS (
         |  SELECT 'ivf' AS method, qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM assigned WHERE vec_id < 10) q
         |    JOIN assigned c ON q.cid = c.cid AND q.vec_id <> c.vec_id
         |  ) WHERE rn <= 3
         |), mp3 AS (
         |  SELECT 'ivf_probe2' AS method, qid, vid FROM (
         |    SELECT q.vec_id AS qid, c.vec_id AS vid,
         |           row_number() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${cosSql("q.embedding", "c.embedding")} DESC, c.vec_id ASC) AS rn
         |    FROM (SELECT * FROM probes WHERE vec_id < 10) q
         |    JOIN assigned c ON q.cid = c.cid AND q.vec_id <> c.vec_id
         |  ) WHERE rn <= 3
         |), approx AS (
         |  SELECT * FROM lsh3 UNION ALL SELECT * FROM ivf3 UNION ALL SELECT * FROM mp3
         |), expected AS (
         |  SELECT m.method, e.qid AS eqid, e.vid AS evid
         |  FROM exact3 e CROSS JOIN (SELECT unnest(['ivf', 'ivf_probe2', 'lsh']) AS method) m
         |)
         |SELECT x.method,
         |       count(*) AS n_expected,
         |       CAST(coalesce(sum(CASE WHEN a.vid IS NOT NULL THEN 1 END), 0) AS BIGINT) AS hits,
         |       ${ratioSql("CAST(coalesce(sum(CASE WHEN a.vid IS NOT NULL THEN 1 END), 0) AS BIGINT)", "count(*)")} AS recall_at_3,
         |       TRUE AS recall_ok
         |FROM expected x LEFT JOIN approx a
         |  ON x.method = a.method AND x.eqid = a.qid AND x.evid = a.vid
         |GROUP BY x.method
         |ORDER BY x.method""".stripMargin,
    "q47_text_stats" ->
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(ntok) AS BIGINT) AS sum_tokens,
         |       CAST(sum(ndist) AS BIGINT) AS sum_distinct,
         |       ${ratioSql("CAST(sum(ntok) AS BIGINT)", "count(*)")} AS avg_tokens
         |FROM (SELECT lang, len($toksSql) AS ntok, len(list_distinct($toksSql)) AS ndist FROM documents)
         |GROUP BY lang
         |ORDER BY lang""".stripMargin,
    "q48_lang_id" ->
      s"""SELECT lang, predicted, count(*) AS n_docs FROM (
        |  SELECT lang,
        |         ${markerCaseSql("und")} AS predicted
        |  FROM (
        |    SELECT lang, $markerScoresSql
        |    FROM (SELECT lang, $toksSql AS toks FROM documents)
        |  )
        |) GROUP BY lang, predicted
        |ORDER BY lang, predicted""".stripMargin,
    "q49_quality_score" ->
      s"""SELECT doc_id, ntok, nchar,
         |       ${ratioSql("nosp", "ntok")} AS mean_tok_len,
         |       ${ratioSql("nstop", "ntok")} AS stop_ratio,
         |       (ntok >= 20 AND ${ratioSql("nosp", "ntok")} < 6.0) AS keep
         |FROM (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS ntok,
         |         CAST(length(text) AS BIGINT) AS nchar,
         |         CAST(length(replace(text, ' ', '')) AS BIGINT) AS nosp,
         |         CAST(len(list_filter(toks, t -> t IN ('table','row','value','data','key'))) AS BIGINT) AS nstop
         |  FROM (SELECT doc_id, text, $toksSql AS toks FROM documents)
         |)
         |ORDER BY doc_id""".stripMargin,
    "q50_fingerprint" ->
      s"""SELECT doc_id, fp_tokenset, fp_prefix,
         |       count(*) OVER (PARTITION BY fp_tokenset) AS fp_group
         |FROM (
         |  SELECT doc_id,
         |         md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp_tokenset,
         |         md5(substr(text, 1, 64)) AS fp_prefix
         |  FROM documents
         |)
         |ORDER BY doc_id""".stripMargin,
    "q51_token_count" ->
      s"""SELECT doc_id,
         |       CAST(len($toksSql) AS BIGINT) AS ws_tokens,
         |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
         |       CAST(length(text) AS BIGINT) AS chars
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    // recon_cos replicated by the identical op tree; recon_ok asserted
    // TRUE (floor 0.999 evaluated in Spark — the q18 pattern).
    "q78_embed_quantize" ->
      s"""WITH qd AS (
         |  SELECT vec_id, embedding,
         |         CASE WHEN absmax = 0.0 THEN 1.0 ELSE absmax / 127.0 END AS scale
         |  FROM (
         |    SELECT vec_id, embedding,
         |           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(embedding, x -> abs(x)) AS DOUBLE[])),
         |                       (a, x) -> CASE WHEN x > a THEN x ELSE a END) AS absmax
         |    FROM embeddings
         |  )
         |), z AS (
         |  SELECT vec_id, embedding, scale,
         |         list_transform(embedding, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
         |  FROM qd
         |), zz AS (
         |  SELECT vec_id, embedding, scale, q,
         |         list_transform(q, qi -> qi * scale) AS dq
         |  FROM z
         |)
         |SELECT vec_id,
         |       list_min(q) AS q_min,
         |       list_max(q) AS q_max,
         |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(range(1, 65), i -> embedding[i] * dq[i]) AS DOUBLE[])), (a, p) -> a + p)
         |         / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(range(1, 65), i -> embedding[i] * embedding[i]) AS DOUBLE[])), (a, p) -> a + p))
         |          * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(range(1, 65), i -> dq[i] * dq[i]) AS DOUBLE[])), (a, p) -> a + p))) AS recon_cos,
         |       TRUE AS recon_ok
         |FROM zz
         |ORDER BY vec_id""".stripMargin,
    "q74_pii_scrub" ->
      """SELECT c_custkey, raw,
        |       regexp_replace(regexp_replace(regexp_replace(raw,
        |         'https?://[^ ]+', '<URL>', 'g'),
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
        |FROM (SELECT c_custkey,
        |             'contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
        |               || '@example.com or https://ex.com/p/' || CAST(c_custkey AS VARCHAR)
        |               || ' ref ' || lpad(CAST(c_custkey AS VARCHAR), 9, '7') AS raw
        |      FROM customer)
        |ORDER BY c_custkey""".stripMargin,
    "q52_tfidf_top_terms" ->
      """WITH tfx AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY doc_id, term
        |), dfx AS (
        |  SELECT term, count(*) AS df FROM tfx GROUP BY term
        |), nx AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, CAST(rn AS INT) AS rn, term, tf, df, score FROM (
        |  SELECT doc_id, term, tf, df,
        |         CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score,
        |         row_number() OVER (PARTITION BY doc_id
        |           ORDER BY CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC, term ASC) AS rn
        |  FROM tfx JOIN dfx USING (term), nx
        |  WHERE doc_id < 50
        |) WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    "q81_quality_repetition" ->
      s"""WITH pre AS (
         |  SELECT doc_id,
         |         CAST(len(th) AS BIGINT) AS n_tok,
         |         CAST(len(tgs) AS BIGINT) AS n_tg,
         |         CAST(len(list_distinct(tgs)) AS BIGINT) AS n_tg_dist,
         |         bgs
         |  FROM (
         |    SELECT doc_id, th, $shingle3Sql AS tgs, $shingle2Sql AS bgs
         |    FROM (SELECT doc_id, $tokenHashesSql AS th
         |          FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |  )
         |), topbg AS (
         |  SELECT doc_id, max(cnt) AS top_bigram_cnt FROM (
         |    SELECT doc_id, bg, count(*) AS cnt
         |    FROM (SELECT doc_id, unnest(bgs) AS bg FROM pre)
         |    GROUP BY doc_id, bg
         |  ) GROUP BY doc_id
         |)
         |SELECT doc_id, n_tok, top_bigram_cnt, top_bigram_frac, dup_trigram_frac,
         |       (top_bigram_frac <= 0.2 AND dup_trigram_frac <= 0.5) AS rep_ok
         |FROM (
         |  SELECT p.doc_id, p.n_tok,
         |         CAST(coalesce(t.top_bigram_cnt, 0) AS BIGINT) AS top_bigram_cnt,
         |         CASE WHEN greatest(p.n_tok - 1, 0) > 0
         |              THEN ${ratioSql("coalesce(t.top_bigram_cnt, 0)", "greatest(p.n_tok - 1, 0)")}
         |              ELSE 0.0 END AS top_bigram_frac,
         |         CASE WHEN p.n_tg > 0
         |              THEN ${ratioSql("p.n_tg - p.n_tg_dist", "p.n_tg")}
         |              ELSE 0.0 END AS dup_trigram_frac
         |  FROM pre p LEFT JOIN topbg t ON p.doc_id = t.doc_id
         |)
         |ORDER BY doc_id""".stripMargin,
    "q82_split_assign" ->
      s"""SELECT split, n_docs,
         |       ${ratioSql("n_docs", "sum(n_docs) OVER ()")} AS frac,
         |       sum_chars, min_doc, max_doc
         |FROM (
         |  SELECT CASE WHEN bucket < 90 THEN 'train'
         |              WHEN bucket < 95 THEN 'val'
         |              ELSE 'test' END AS split,
         |         count(*) AS n_docs,
         |         ${sumLongSql("n_chars")} AS sum_chars,
         |         min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |  FROM (SELECT doc_id, n_chars, $docIdDigestSql % 100 AS bucket FROM documents)
         |  GROUP BY 1
         |)
         |ORDER BY split""".stripMargin,
    "q83_chunk_overlap" ->
      s"""SELECT doc_id, chunk_idx, chunk_idx * 24 AS chunk_start,
         |       CAST(len(ct) AS BIGINT) AS n_chunk_toks,
         |       array_to_string(ct, ' ') AS chunk_text
         |FROM (
         |  SELECT doc_id, chunk_idx,
         |         list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32) AS ct
         |  FROM (
         |    SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_idx
         |    FROM (
         |      SELECT doc_id, toks,
         |             CASE WHEN n_tok <= 32 THEN 1
         |                  ELSE 1 + (n_tok - 32 + 23) // 24 END AS n_chunks
         |      FROM (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok
         |            FROM (SELECT doc_id, $toksSql AS toks FROM documents))
         |    )
         |  )
         |)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q84_sample_stratified" ->
      s"""SELECT lang, CAST(rn AS INT) AS rn, doc_id, hkey FROM (
         |  SELECT lang, doc_id, hkey,
         |         row_number() OVER (PARTITION BY lang ORDER BY hkey ASC, doc_id ASC) AS rn
         |  FROM (SELECT lang, doc_id, $docIdDigestSql AS hkey FROM documents)
         |) WHERE rn <= 10
         |ORDER BY lang, rn""".stripMargin,
    "q96_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, bucket, list_distinct(tgs) AS shs
         |  FROM (
         |    SELECT doc_id, bucket, $shingle3Sql AS tgs
         |    FROM (
         |      SELECT doc_id, bucket, $tokenHashesSql AS th
         |      FROM (SELECT doc_id, $docIdDigestSql % 100 AS bucket,
         |                   $toksSql AS toks FROM documents)
         |    )
         |  )
         |), ev AS (
         |  SELECT DISTINCT sh2 AS sh
         |  FROM (SELECT unnest(shs) AS sh2 FROM sh WHERE bucket >= 95)
         |), tr AS (
         |  SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_shingles,
         |         unnest(shs) AS sh
         |  FROM sh WHERE bucket < 90
         |)
         |SELECT doc_id, n_shingles, n_overlap,
         |       ${ratioSql("n_overlap", "n_shingles")} AS contam_frac,
         |       (${ratioSql("n_overlap", "n_shingles")} >= 0.1) AS flagged
         |FROM (
         |  SELECT doc_id, n_shingles, count(*) AS n_overlap
         |  FROM tr JOIN ev USING (sh)
         |  GROUP BY doc_id, n_shingles
         |)
         |ORDER BY doc_id""".stripMargin,
    "q98_pack_sequences" ->
      s"""SELECT lang, bin_id, count(*) AS n_docs,
         |       ${sumLongSql("n_tok")} AS sum_tok,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM (
         |  SELECT lang, doc_id, n_tok,
         |         CAST((cum_tok - n_tok) // $PackBudget AS BIGINT) AS bin_id
         |  FROM (
         |    SELECT lang, doc_id, n_tok,
         |           CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
         |    FROM (SELECT lang, doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok
         |          FROM documents)
         |  )
         |)
         |GROUP BY lang, bin_id
         |ORDER BY lang, bin_id""".stripMargin,
    "q104_dedup_editdistance" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 16) AS pfx, substr(text, 17, 48) AS body
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, pfx, body,
        |         min(doc_id) OVER (PARTITION BY pfx) AS rep
        |  FROM d
        |)
        |SELECT r.doc_id AS doc_a, w.doc_id AS doc_b,
        |       CAST(levenshtein(w.body, r.body) AS INT) AS dist
        |FROM w JOIN d r ON w.rep = r.doc_id AND w.pfx = r.pfx
        |WHERE w.doc_id <> w.rep AND levenshtein(w.body, r.body) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q106_sample_weighted" ->
      s"""SELECT lang, CAST(rn AS INT) AS rn, doc_id, n_chars, prio FROM (
         |  SELECT lang, doc_id, n_chars, prio,
         |         row_number() OVER (PARTITION BY lang
         |                            ORDER BY prio DESC, doc_id ASC) AS rn
         |  FROM (SELECT lang, doc_id, n_chars,
         |               (least(n_chars, $WeightCap) * ${1L << 40})
         |                 // ($docIdDigestSql + 1) AS prio
         |        FROM documents)
         |) WHERE rn <= 10
         |ORDER BY lang, rn""".stripMargin,
    "q107_profile_corpus" ->
      """SELECT count(*) AS n_rows,
        |       count(DISTINCT doc_id) AS n_distinct_docs,
        |       count(DISTINCT lang) AS n_distinct_langs,
        |       count(DISTINCT source) AS n_distinct_sources,
        |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
        |       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
        |       min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_doc,
        |       max(doc_id) AS max_doc
        |FROM documents""".stripMargin,
    "q108_dedup_substring" ->
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(tgs) AS shs
         |  FROM (
         |    SELECT doc_id, $shingle3Sql AS tgs
         |    FROM (
         |      SELECT doc_id, $tokenHashesSql AS th
         |      FROM (SELECT doc_id, $toksSql AS toks FROM documents)
         |    )
         |  )
         |), ex AS (
         |  SELECT doc_id, unnest(shs) AS s2 FROM sh
         |), shared AS (
         |  SELECT s2 FROM ex GROUP BY s2 HAVING count(*) >= 2
         |), per AS (
         |  SELECT doc_id, count(*) AS n_shared
         |  FROM ex JOIN shared USING (s2)
         |  GROUP BY doc_id
         |)
         |SELECT sh.doc_id, CAST(len(sh.shs) AS BIGINT) AS n_shingles,
         |       coalesce(per.n_shared, 0) AS n_shared,
         |       CASE WHEN len(sh.shs) > 0
         |            THEN ${ratioSql("coalesce(per.n_shared, 0)", "len(sh.shs)")}
         |            ELSE 0.0 END AS shared_frac,
         |       CASE WHEN len(sh.shs) > 0
         |            THEN ${ratioSql("coalesce(per.n_shared, 0)", "len(sh.shs)")}
         |            ELSE 0.0 END >= 0.5 AS flagged
         |FROM sh LEFT JOIN per ON sh.doc_id = per.doc_id
         |ORDER BY sh.doc_id""".stripMargin,
    "q109_kmeans_clusters" ->
      s"""WITH $kmeansA2Sql
         |SELECT CAST(code % $KmeansK AS INT) AS cluster,
         |       count(*) AS n_members,
         |       CAST(sum(CAST(CAST(code - code % $KmeansK AS DOUBLE) / $KmeansK.0 AS BIGINT)) AS BIGINT) AS sum_sqdist,
         |       min(vec_id) AS min_vec
         |FROM a2
         |GROUP BY 1
         |ORDER BY cluster""".stripMargin,
    "q110_semdedup_prune" -> {
      def idotSql(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 65), i -> CAST($a[i] AS BIGINT) * $b[i])), (x, y) -> x + y)"
      val cosSql =
        s"(CAST(${idotSql("m.q", "p.rq")} AS DOUBLE) / (sqrt(CAST(${idotSql("m.q", "m.q")} AS DOUBLE)) * sqrt(CAST(${idotSql("p.rq", "p.rq")} AS DOUBLE))))"
      s"""WITH $kmeansA2Sql, mem AS (
         |  SELECT vec_id, q, CAST(code % $KmeansK AS INT) AS cluster FROM a2
         |), reps AS (
         |  SELECT cluster, min(vec_id) AS rep_vec FROM mem GROUP BY cluster
         |), repq AS (
         |  SELECT m2.cluster, r.rep_vec, m2.q AS rq
         |  FROM mem m2 JOIN reps r ON m2.vec_id = r.rep_vec
         |)
         |SELECT m.cluster,
         |       count(*) AS n_members,
         |       CAST(sum(CASE WHEN m.vec_id <> p.rep_vec AND $cosSql >= $SemdedupCos
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dups,
         |       max(p.rep_vec) AS rep_vec
         |FROM mem m JOIN repq p ON m.cluster = p.cluster
         |GROUP BY m.cluster
         |ORDER BY m.cluster""".stripMargin
    },
    "q114_table_checksum" ->
      s"""SELECT count(*) AS n_rows,
         |       bit_xor(digest) AS xor_check,
         |       CAST(CAST(sum(digest) AS HUGEINT) % $ChecksumMod AS BIGINT) AS sum_check
         |FROM (
         |  SELECT CAST(('0x' || substr(md5(
         |           concat_ws(chr(1), CAST(doc_id AS VARCHAR), lang, source,
         |                     CAST(n_chars AS VARCHAR), text)), 1, 10)) AS BIGINT) AS digest
         |  FROM documents
         |)""".stripMargin,
    "q115_url_normalize" ->
      s"""WITH raw AS (
         |  SELECT CASE doc_id % 3
         |           WHEN 0 THEN concat('https://www.', source, '.com/Docs/',
         |                              CAST(doc_id % 100 AS VARCHAR), '/')
         |           WHEN 1 THEN concat('HTTP://', upper(source), '.COM/Docs/',
         |                              CAST(doc_id % 100 AS VARCHAR), '?utm_source=feed&ref=x')
         |           ELSE concat('https://', source, '.com/Docs/',
         |                       CAST(doc_id % 100 AS VARCHAR), '#section-2')
         |         END AS raw_url
         |  FROM documents
         |), norm AS (
         |  SELECT raw_url,
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(
         |               regexp_replace(lower(raw_url), '^https?://', ''),
         |               '^www\\.', ''),
         |             '[?#].*$$', ''),
         |           '/$$', '') AS canonical
         |  FROM raw
         |)
         |SELECT regexp_extract(canonical, '^([^/]+)', 1) AS host,
         |       count(*) AS n_raw,
         |       count(DISTINCT canonical) AS n_canonical,
         |       count(DISTINCT raw_url) AS n_raw_distinct,
         |       ${ratioSql("count(DISTINCT canonical)", "count(*)")} AS dedup_ratio
         |FROM norm
         |GROUP BY 1
         |ORDER BY host""".stripMargin,
    "q117_dedup_keep_best" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
        |  FROM documents
        |), r AS (
        |  SELECT fp, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC) AS rn,
        |         count(*) OVER (PARTITION BY fp) AS n_members
        |  FROM d
        |)
        |SELECT fp, n_members, doc_id AS kept_doc, n_chars AS kept_chars,
        |       n_members - 1 AS n_dropped
        |FROM r
        |WHERE rn = 1 AND n_members >= 2
        |ORDER BY fp""".stripMargin,
    "q119_token_histogram" ->
      s"""SELECT bin, count(*) AS n_docs,
         |       min(n_tok) AS min_tok, max(n_tok) AS max_tok,
         |       CAST(sum(n_tok) AS BIGINT) AS sum_tok
         |FROM (
         |  SELECT CASE WHEN n_tok // 8 < 31 THEN n_tok // 8 ELSE 31 END AS bin, n_tok
         |  FROM (SELECT CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents)
         |)
         |GROUP BY bin
         |ORDER BY bin""".stripMargin
  )

  /** Shared DuckDB CTE chain for the q109/q110 k-means pipeline: quantize
    * (q78 formulation) → seed pivot → assignment 1 → grid-snapped centroid
    * update → pivot → assignment 2 (`a2`: vec_id, q, code). Kept as a
    * WITH-clause body so both oracles stay one SELECT away from the same
    * deterministic pipeline, exactly like the Spark side shares
    * [[kmeansAssigned]]. */
  /** The int8-quantization CTE (`qv AS (...)`) — q78's exact grid, shared
    * by [[kmeansA2Sql]] (full vectors) and the q300 PQ oracle. */
  private lazy val qvSql: String =
    """qv AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(floor(x / scale + 0.5) AS INT)) AS q
      |  FROM (
      |    SELECT vec_id, embedding,
      |           CASE WHEN absmax = 0.0 THEN 1.0 ELSE absmax / 127.0 END AS scale
      |    FROM (
      |      SELECT vec_id, embedding,
      |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(embedding, x -> abs(x)) AS DOUBLE[])),
      |                         (a, x) -> CASE WHEN x > a THEN x ELSE a END) AS absmax
      |      FROM embeddings
      |    )
      |  )
      |)""".stripMargin

  private lazy val kmeansA2Sql: String = {
    val k = KmeansK
    // integer squared distance of q to centroid array column mJ, coded
    // as dist*K + j (exact BIGINT; the argmin of codes IS the argmin of
    // distances with ties toward the smaller cluster id)
    def codeSql(j: Int) =
      s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, 65),
         |      i -> CAST(q[i] - m$j[i] AS BIGINT) * (q[i] - m$j[i]))),
         |  (a, b) -> a + b) * $k + $j)""".stripMargin
    def pivotSql(src: String, keyCol: String) =
      (0 until k).map(j =>
        s"max(CASE WHEN $keyCol = $j THEN m END) AS m$j").mkString(", ") +
        s" FROM $src"
    s"""$qvSql, seeds AS (
       |  SELECT CAST(vec_id AS INT) AS cluster, q AS m FROM qv WHERE vec_id < $k
       |), p0 AS (
       |  SELECT ${pivotSql("seeds", "cluster")}
       |), a1 AS (
       |  SELECT vec_id, q,
       |         least(${(0 until k).map(codeSql).mkString(", ")}) AS code
       |  FROM qv, p0
       |), u1 AS (
       |  SELECT CAST(code % $k AS INT) AS cluster, i AS pos, q[CAST(i AS INT)] AS x
       |  FROM a1, range(1, 65) t(i)
       |), c1 AS (
       |  SELECT cluster, list(mi ORDER BY pos) AS m
       |  FROM (
       |    SELECT cluster, pos,
       |           CAST(floor((2.0 * sum(x) + count(*)) / (2.0 * count(*))) AS INT) AS mi
       |    FROM u1 GROUP BY cluster, pos
       |  )
       |  GROUP BY cluster
       |), p1 AS (
       |  SELECT ${pivotSql("c1", "cluster")}
       |), a2 AS (
       |  SELECT vec_id, q,
       |         least(${(0 until k).map(codeSql).mkString(", ")}) AS code
       |  FROM qv, p1
       |)""".stripMargin
  }

  /** One PQ-subspace Lloyd pipeline for the q300/q330 oracles: CTE-name
    * suffix `sfx`, DuckDB list slice `[lo:hi]` (inclusive; any width —
    * q300 uses 2×32 dims, q330 8×8), same two-round construction as
    * [[kmeansA2Sql]] with k = [[PqK]]. */
  private def pqPipeSql(sfx: String, lo: Int, hi: Int): String = {
    val k = PqK
    val dims = hi - lo + 1
    def codeSql(j: Int) =
      s"""(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(1, ${dims + 1}),
         |      i -> CAST(q[i] - m$j[i] AS BIGINT) * (q[i] - m$j[i]))),
         |  (a, b) -> a + b) * $k + $j)""".stripMargin
    def pivotSql(src: String) =
      (0 until k).map(j =>
        s"max(CASE WHEN cluster = $j THEN m END) AS m$j").mkString(", ") +
        s" FROM $src"
    s"""sub$sfx AS (
       |  SELECT vec_id, q[$lo:$hi] AS q FROM qv
       |), seeds$sfx AS (
       |  SELECT CAST(vec_id AS INT) AS cluster, q AS m FROM sub$sfx WHERE vec_id < $k
       |), p0$sfx AS (
       |  SELECT ${pivotSql(s"seeds$sfx")}
       |), a1$sfx AS (
       |  SELECT vec_id, q,
       |         least(${(0 until k).map(codeSql).mkString(", ")}) AS code
       |  FROM sub$sfx, p0$sfx
       |), u1$sfx AS (
       |  SELECT CAST(code % $k AS INT) AS cluster, i AS pos, q[CAST(i AS INT)] AS x
       |  FROM a1$sfx, range(1, ${dims + 1}) t(i)
       |), c1$sfx AS (
       |  SELECT cluster, list(mi ORDER BY pos) AS m
       |  FROM (
       |    SELECT cluster, pos,
       |           CAST(floor((2.0 * sum(x) + count(*)) / (2.0 * count(*))) AS INT) AS mi
       |    FROM u1$sfx GROUP BY cluster, pos
       |  )
       |  GROUP BY cluster
       |), p1$sfx AS (
       |  SELECT ${pivotSql(s"c1$sfx")}
       |), a2$sfx AS (
       |  SELECT vec_id,
       |         least(${(0 until k).map(codeSql).mkString(", ")}) AS code
       |  FROM sub$sfx, p1$sfx
       |)""".stripMargin
  }
}
