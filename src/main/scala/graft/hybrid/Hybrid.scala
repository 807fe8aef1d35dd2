package graft.hybrid

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import graft.functions.{Bound, Combine, ScoreMath}
import graft.index.Index
import graft.ops.{Ann, Sparse, TopN}
import graft.query.{Bm25, BoundedTopK}

/**
 * The hybrid-query pipeline: N scored sub-queries -> per-sub-query top-depth
 * -> cross-sub-query normalization -> per-doc combination -> final ranked
 * page. This is the Spark re-expression of the reference's full
 * `hybrid` search lifecycle (SURVEY.md §3.1):
 *
 *  - HETEROGENEOUS sub-queries: a hybrid query mixes lexical BM25, sparse
 *    token-weight (neural_sparse), and dense vector (neural kNN) clauses —
 *    the reference accepts any QueryBuilder as a sub-query
 *    (reference: query/HybridQueryBuilder.java:368-377 building match +
 *    neural + neural_sparse clauses; query/NeuralQueryBuilder.java,
 *    query/NeuralSparseQueryBuilder.java:568-589) — which is the one case
 *    the normalization machinery exists for: per-sub-query score
 *    distributions with genuinely different scales (BM25 in [0, ~idf-sum),
 *    sparse dot products unbounded, cosine in [-1, 1]);
 *  - sub-query scoring + per-sub-query top-k collection
 *    (reference: search/collector/HybridTopScoreDocCollector.java:135-190,
 *    query/HybridQueryScorer.java:105-120) = one Spark job: every `match`
 *    clause in one bucket-kernel pass, the other clauses by their own
 *    scorers, and one bounded heap of `depth` (`pagination_depth`,
 *    reference: query/HybridQueryBuilder.java:61-68) per sub-query per
 *    partition, collected once;
 *  - filter pushed into every sub-query as a non-scoring clause
 *    (reference: query/HybridQueryBuilder.java:116-127) = a left-semi join
 *    applied before the heaps (no broadcast hint: the filter can be half
 *    the corpus, so the join strategy is AQE's call);
 *  - collapse with `docs_per_group_per_subquery`: during collection each
 *    sub-query keeps the best n docs per group value, and the final page
 *    keeps one doc per group (reference:
 *    search/collector/HybridCollapsingTopDocsCollector.java,
 *    plugin/NeuralSearch.java:367) — the per-group keep rides the
 *    per-partition heaps and is replayed on the driver, never a sort;
 *  - normalization across the whole collected set per sub-query
 *    (reference: processor/NormalizationProcessorWorkflow.java:66-124),
 *    per-doc score alignment with missing entries as 0.0
 *    (reference: processor/combination/ScoreCombiner.java:361-375),
 *    combination + min_score filter + pagination
 *    (reference: ScoreCombiner.java:377-395, NormalizationProcessorWorkflow.java:276-282)
 *    = the coordinator: a driver function over the <= nSub x depth x
 *    partitions collected rows, calling the same [[graft.functions.ScoreMath]]
 *    as the Catalyst normalization expressions the SQL functions register.
 *    Only the scorers touch corpus-sized data.
 */
sealed trait Normalization
case class MinMaxNormTech(lower: Option[Seq[Bound]] = None, upper: Option[Seq[Bound]] = None) extends Normalization
case object L2NormTech extends Normalization
case object ZScoreNormTech extends Normalization
case class RrfNormTech(rankConstant: Int = 60) extends Normalization

case class Combination(technique: String, weights: Seq[Double] = Nil)

/** One hybrid sub-query clause. The reference builds these from any
 *  registered QueryBuilder (HybridQueryBuilder.java:368-377). */
sealed trait SubQuery

/** Lexical BM25 clause — the `match`/`term` sub-query shape. */
case class Lexical(terms: Seq[String], boosts: Map[String, Double] = Map.empty) extends SubQuery

/** Phrase clause — the `match_phrase` sub-query shape. Slop 0: terms at
 *  consecutive analyzed positions, tf = phrase frequency (Lucene
 *  PhraseQuery / ExactPhraseMatcher). Slop > 0: Lucene SloppyPhraseMatcher
 *  — tf is the fractional sum of 1/(1+matchLength) slop factors over the
 *  greedy minimal windows (distinct terms only). Either way the weight is
 *  the sum of member-term idfs. Needs [[HybridSources.positions]]. */
case class LexicalPhrase(phrase: Seq[String], slop: Int = 0) extends SubQuery

/** SynonymQuery-group clause: one (member terms, boost) group per analyzed
 *  query position. A `match` clause rewrites to this automatically when
 *  [[HybridSources.synonyms]] carries an entry for any of its tokens —
 *  Lucene's SynonymGraphFilter → SynonymQuery lowering. Each group scores
 *  with tf summed before saturation and df = max member df; groups sum. */
case class LexicalSyn(groups: Seq[(Seq[String], Double)]) extends SubQuery

/** Sparse token-weight clause — `neural_sparse`: linear dot product of the
 *  query token map against the encoded corpus
 *  (reference: query/NeuralSparseQueryBuilder.java:568-581). */
case class SparseLinear(query: Map[String, Double]) extends SubQuery

/** Sparse ANN clause — `neural_sparse` with `method_parameters` against a
 *  SEISMIC field: cluster-skipping top-k over the clustered posting
 *  artifact instead of the linear scorer (reference:
 *  sparse/query/SparseAnnQueryBuilder.java:67-87 parses
 *  {top_n, k, heap_factor, filter}; SeismicBaseScorer executes). `topN`
 *  keeps the top query tokens by weight (query_cut), `k` is the result
 *  heap size, `heapFactor` relaxes (>1) or tightens (<1) the skip bound,
 *  and `filter` is the clause-level NON-SCORING filter applied DURING the
 *  ANN search (a predicate over the stored-fields table — intersecting
 *  after a k-bounded search would under-fill the heap, so it must reach
 *  the scorer, reference: OrderedPostingWithClustersScorer.java:46-52). */
case class SparseAnn(query: Map[String, Double],
                     topN: Int = 10,
                     heapFactor: Double = 1.0,
                     k: Int = 10,
                     filter: Option[org.apache.spark.sql.Column] = None)
    extends SubQuery

/** Dense vector clause — `neural` kNN: cosine similarity against the corpus
 *  embedding column; the query vector is the stored embedding of
 *  `queryId` (deterministic stand-in for ML inference, zero-egress)
 *  (reference: query/NeuralKNNQueryBuilder.java). */
case class DenseCosine(queryId: Long) extends SubQuery

/** Dense vector clause with an EXPLICIT query vector — the `knn` shape where
 *  the caller supplies the vector directly instead of a stored-embedding id
 *  (reference: NeuralKNNQueryBuilder.vector(float[]) — the raw-vector form
 *  used when embedding happens client-side). Optional radial bounds
 *  (`minScore` xor `maxDistance`, reference:
 *  query/NeuralKNNQueryBuilder.java radial forms) turn the clause into a
 *  range-over-similarity query; at most one may be set. */
case class DenseVector(vec: Seq[Double],
                       minScore: Option[Double] = None,
                       maxDistance: Option[Double] = None) extends SubQuery

/** ANN-fronted dense clause: the `neural` kNN scored against the
 *  partition-pruned IVF artifact instead of a brute corpus scan — the
 *  reference's neural clause is always ANN-backed (a Lucene HNSW graph,
 *  query/NeuralKNNQueryBuilder.java:1-489); here the ANN structure is
 *  [[graft.ops.Ann.ivfBuildVectors]]'s by-centroid vector layout, so the
 *  clause reads only its nProbe probed partitions. Exact (identical to
 *  [[DenseCosine]]) when nProbe = centroid count. */
case class DenseIvf(queryId: Long, nProbe: Int) extends SubQuery

/** The vector scoring function of a `script_score` query — the k-NN
 *  painless extensions the reference ecosystem uses for EXACT vector
 *  search (the script_score-over-knn idiom: score every doc the inner
 *  query matches with a space function, no ANN structure involved). */
sealed trait VectorScoreFn
/** `cosineSimilarity(params.query_vector, doc[f]) + 1.0` — shifted to keep
 *  scores positive, the documented cosine idiom. */
case object CosinePlusOne extends VectorScoreFn
/** `1 / (1 + l2Squared(params.query_vector, doc[f]))` — the bounded-(0,1]
 *  L2 idiom. */
case object InvL2 extends VectorScoreFn
/** `innerProduct(params.query_vector, doc[f])` — raw dot product. */
case object InnerProd extends VectorScoreFn

/** `script_score`: the inner query picks the matched set, the script
 *  REPLACES its scores. Only the deterministic vector space functions are
 *  supported (real painless is out of scope); this is the reference
 *  ecosystem's exact-kNN form — filter with any query, score by distance
 *  over the stored vector field. */
case class ScriptScoreQ(inner: SubQuery, fn: VectorScoreFn,
                        queryVector: Seq[Double],
                        boost: Double = 1.0) extends SubQuery

/** Radial (range) kNN clause: every doc within the similarity radius,
 *  instead of the k nearest — the reference's `min_score` / `max_distance`
 *  forms of the neural clause (query/NeuralQueryBuilder.java:156-157,
 *  547-551), which it validates as mutually exclusive with `k` and with
 *  each other (util/NeuralQueryValidationUtil.java:139-148). Scores are
 *  cosine similarity; `max_distance` is cosine distance (1 - cosine), so
 *  both forms reduce to a lower bound on the cosine score. Exactly one of
 *  the two must be set. */
case class DenseRadial(queryId: Long,
                       minScore: Option[Double] = None,
                       maxDistance: Option[Double] = None) extends SubQuery {
  /** the equivalent lower bound on cosine similarity */
  def minCosine: Double = minScore.getOrElse(1.0 - maxDistance.get)
}

/** A `neural`/`neural_sparse` clause targeting a SEMANTIC field by name:
 *  the reference auto-routes such a query to the field's generated embedding
 *  sub-field — dense or sparse per the field's model — and scores nested
 *  best-chunk (mapper/SemanticFieldMapper.java:268-276 semantic-type rewrite,
 *  query/NeuralQueryBuilder.java:1019-1065 rewriteQueryAgainstSemanticField:
 *  `<field>_semantic_info.chunks.embedding`). Here the routing table is
 *  [[HybridSources.semantic]]; the clause carries the ANALYZED query terms,
 *  and the registered field's kind decides sparse-dot vs dense-cosine
 *  best-chunk scoring. */
case class SemanticText(field: String, terms: Seq[String]) extends SubQuery

/** How a [[LexicalMulti]] clause combines its per-field scores — Lucene's
 *  two multi_match modes (MultiMatchQueryBuilder.Type): `best_fields` is a
 *  DisjunctionMaxQuery (max + tieBreaker × sum-of-others), `most_fields` a
 *  should-bool (plain sum). */
sealed trait MultiMatchType
case class BestFields(tieBreaker: Double = 0.0) extends MultiMatchType
case object MostFields extends MultiMatchType
/** `cross_fields`: term-centric blending (Lucene BlendedTermQuery) — per
 *  term the doc-frequency blends to the MAX across the queried fields, each
 *  field scores the term with the blended idf against its own
 *  tf/length/avgdl, the doc takes the best field PER TERM (a per-term
 *  dismax), and terms sum. The "treat these fields as one field" semantics:
 *  a name split across first_name/last_name fields still scores like one
 *  field would. */
case object CrossFields extends MultiMatchType
/** `phrase`: the analyzed text runs as a match_phrase against EACH field
 *  (its own positional index, its own BM25 stats) and the per-field phrase
 *  scores combine dis-max like best_fields (MultiMatchQueryBuilder.Type
 *  .PHRASE builds one PhraseQuery per field under a
 *  DisjunctionMaxQuery). `slop` applies to every field's matcher. */
case class PhraseFields(tieBreaker: Double = 0.0, slop: Int = 0) extends MultiMatchType
/** `phrase_prefix`: one MultiPhrasePrefixQuery per field under a
 *  DisjunctionMaxQuery — the last analyzed token is a prefix whose
 *  expansions come from EACH FIELD'S OWN dictionary (first maxExpansions
 *  in term order), the leading tokens match exactly. */
case class PhrasePrefixFields(tieBreaker: Double = 0.0,
                              maxExpansions: Int = 50) extends MultiMatchType
/** `bool_prefix`: a match_bool_prefix per field under a
 *  DisjunctionMaxQuery (MultiMatchQueryBuilder.Type.BOOL_PREFIX) — every
 *  analyzed token but the last scores as a TermQuery against the field's
 *  own stats, the LAST token is a constant-score prefix over that field's
 *  dictionary (Lucene's PrefixQuery rewrite scores 1), the field's parts
 *  SUM (bool should, msm 0), fields combine dis-max with tie_breaker. */
case class BoolPrefixFields(tieBreaker: Double = 0.0) extends MultiMatchType
/** The `combined_fields` query — Lucene's CombinedFieldQuery (BM25F without
 *  per-field b): the queried fields merge into ONE pseudo-field and BM25
 *  runs once over the merged statistics, instead of combining per-field
 *  scores. Per term t and doc d:
 *
 *    tf'(d,t)  = Σ_f w_f · tf_f(d,t)        (weighted freqs merge)
 *    dl'(d)    = Σ_f w_f · dl_f(d)          (weighted lengths merge)
 *    df'(t)    = max_f df_f(t)              (merged TermStatistics)
 *    avgdl'    = Σ_f w_f · sumdl_f / docCount
 *    score(d)  = Σ_t idf(df'(t)) · tf'/(tf' + k1·(1−b+b·dl'/avgdl'))
 *
 *  exactly Lucene's pseudo-collection merge (docFreq = max over fields,
 *  sumTotalTermFreq = weighted sum, norms summed per doc via
 *  MultiNormsLeafSimScorer). Unlike cross_fields — which keeps per-field
 *  scores and blends only the idf — combined_fields saturates the MERGED
 *  term frequency, so two half-occurrences in two fields score like one
 *  whole occurrence in one field. Each analyzed term is one
 *  CombinedFieldQuery clause in a should-bool, so `operator: and` /
 *  `minimum_should_match` gate on DISTINCT matched terms
 *  ([[CombinedFields.minTermsMatch]]), like `match`. Lucene requires every
 *  field weight >= 1 (scores must stay upper-boundable); validated here. */
case class CombinedFields(minTermsMatch: Int = 0) extends MultiMatchType

/** Multi-field lexical clause — the `multi_match` query: the same analyzed
 *  terms scored independently against several indexed fields (each with its
 *  own postings, doc lengths, and collection stats), per-field boosts
 *  multiplied into the field's BM25 score, combined per
 *  [[MultiMatchType]]. Field name "text" resolves to the primary
 *  [[HybridSources.idx]]; any other name must be registered in
 *  [[HybridSources.fieldIdx]]. */
case class LexicalMulti(fields: Seq[(String, Double)], terms: Seq[String],
                        mm: MultiMatchType = BestFields()) extends SubQuery

/** Lexical clause with a term-count gate — `match` with `operator: and`
 *  (minTermsMatch = distinct term count) or a term-level
 *  `minimum_should_match`: a doc qualifies only when it matches at least
 *  minTermsMatch DISTINCT query terms; the score stays the plain BM25 sum
 *  over the terms it matches. Lucene's MatchQuery compiles exactly this —
 *  a BooleanQuery of TermQuery clauses with the msm / all-MUST gate. */
case class LexicalMsm(terms: Seq[String], minTermsMatch: Int,
                      boosts: Map[String, Double] = Map.empty) extends SubQuery

/** `range` as a SCORING-context clause — Lucene's
 *  ConstantScore(PointRangeQuery): docs whose stored numeric field falls in
 *  the bounds score the flat boost. The predicate is plain column algebra
 *  over `HybridSources.fields`, so it reaches the scan pushed down; in
 *  FILTER context the request-level filter machinery handles ranges — this
 *  clause is for must/should positions (and query_string's `field:>=n`
 *  comparison syntax), where the matched set must carry a score. */
case class RangeQ(field: String, gte: Option[Double] = None,
                  gt: Option[Double] = None, lte: Option[Double] = None,
                  lt: Option[Double] = None, boost: Double = 1.0) extends SubQuery {
  require(Seq(gte, gt, lte, lt).exists(_.nonEmpty),
    s"range [$field] requires at least one of gte/gt/lte/lt")
  require(gte.isEmpty || gt.isEmpty, s"range [$field]: gte and gt conflict")
  require(lte.isEmpty || lt.isEmpty, s"range [$field]: lte and lt conflict")
}

/** `terms_set` query — the msm gate read PER DOC from a stored numeric
 *  field (`minimum_should_match_field`): a doc qualifies when it matches at
 *  least `max(field value, 1)` distinct query terms (Lucene CoveringQuery —
 *  docs only ever enter through a matching term, so a value <= 1 degrades
 *  to >= 1; a value above the term count can never be met). Score = the
 *  BM25 sum over the doc's matching terms, like the bool-of-TermQuery the
 *  reference compiles. Requires `HybridSources.fields` carrying the msm
 *  column. */
case class TermsSetFieldQ(terms: Seq[String], msmField: String,
                          boost: Double = 1.0) extends SubQuery

/** `match_all` — every live document matches with the constant boost score
 *  (Lucene MatchAllDocsQuery). The explicit base clause for purely-negative
 *  or filter-plus-score bools. */
case class MatchAll(boost: Double = 1.0) extends SubQuery

/** Constant-score multi-term clause — Lucene's PrefixQuery under its
 *  default CONSTANT_SCORE rewrite: a prefix/wildcard query FILTERS (every
 *  doc containing any matching term scores the flat boost), it does not
 *  rank. `pattern` is a SQL LIKE pattern over the term dictionary —
 *  `prefix` queries compile to `pre%`, `wildcard` queries translate
 *  Lucene's `*`/`?` to `%`/`_`. Patterns are restricted to the analyzer's
 *  own alphabet ([a-z0-9] + wildcards) so both engines evaluate the
 *  identical LIKE. */
case class TermPattern(pattern: String, boost: Double = 1.0) extends SubQuery

/** `constant_score` wrapper: the inner clause's matched set at a flat
 *  boost (Lucene ConstantScoreQuery — filter context promoted to a
 *  uniform score). */
case class ConstantScore(inner: SubQuery, boost: Double = 1.0) extends SubQuery

/** Explicit disjunction-max — Lucene's DisjunctionMaxQuery / the `dis_max`
 *  query: matches when ANY clause matches; score = best clause score +
 *  tieBreaker × (sum of the others). `multi_match best_fields` is the
 *  field-specialized form of this over arbitrary clauses. */
case class DisMax(clauses: Seq[SubQuery], tieBreaker: Double = 0.0) extends SubQuery

/** The `boosting` query (Lucene BoostingQuery): matches exactly the
 *  positive clause's docs at its score, demoted by ×negativeBoost when the
 *  doc also matches the negative clause — "prefer not" instead of
 *  must_not's hard exclusion. */
case class Boosting(positive: SubQuery, negative: SubQuery,
                    negativeBoost: Double) extends SubQuery

/** `fuzzy` term query: constant-score over docs containing any indexed
 *  term within `fuzziness` edit distance of the query term — Lucene's
 *  FuzzyQuery with the multi-term constant-score treatment. With
 *  `transpositions = true` (Lucene's and OpenSearch's default) the distance
 *  is Damerau-Levenshtein — an adjacent transposition is ONE edit, so
 *  "hte"~1 reaches "the"; `false` falls back to classic Levenshtein
 *  (FuzzyQuery's transpositions=false form). The term-dictionary scan is
 *  the relational analogue of the FST automaton intersection; a
 *  length prefilter skips the distance computation where it cannot pass. */
case class Fuzzy(term: String, fuzziness: Int = 1, boost: Double = 1.0,
                 transpositions: Boolean = true) extends SubQuery

/** `intervals` query with a composed source tree (match / all_of /
 *  any_of, nested arbitrarily) — Lucene's minimal-interval algebra as a
 *  filter-context existence at constant boost. The single top-level
 *  `match` rule keeps lowering onto [[SpanNearQ]] (same contract); this
 *  clause carries the compositions. Needs [[HybridSources.positions]]. */
case class IntervalsQ(source: graft.query.Intervals.Source,
                      boost: Double = 1.0) extends SubQuery

/** `ids` query: the named live documents at a constant boost — the direct
 *  primary-key fetch form. Bucket-prunes the forward table to only the ids'
 *  4096-doc buckets before decoding. */
case class IdsQ(ids: Seq[Long], boost: Double = 1.0) extends SubQuery

/** `terms` query: docs containing ANY of the exact values, constant boost —
 *  OpenSearch's set-membership filter form (no per-term scoring, unlike
 *  `match`). */
case class TermsSet(values: Seq[String], boost: Double = 1.0) extends SubQuery

/** `terms` lookup form: the filter values come from ONE stored document's
 *  field (OpenSearch fetches the lookup doc with a realtime GET and
 *  inlines its values). Resolved at scoring time from the stored-fields
 *  table — one column-pruned point read — then it behaves exactly like an
 *  inline [[TermsSet]] over the doc's analyzed tokens. */
case class TermsLookupQ(id: Long, path: String, boost: Double = 1.0) extends SubQuery

/** `match_none` — the empty query (Lucene MatchNoDocsQuery): matches no
 *  document, composes as the neutral element anywhere a clause can. */
case object MatchNoneQ extends SubQuery

/** `match_phrase_prefix`: exact leading slots + a dictionary-expanded
 *  prefix last slot (Lucene MatchPhrasePrefixQuery -> MultiPhraseQuery;
 *  deterministic first-`maxExpansions`-in-term-order cap). Scored like a
 *  phrase whose weight sums idf over fixed slots + every expansion term
 *  (MultiPhraseQuery's one-TermStatistics-per-term contract). */
case class LexicalPhrasePrefix(fixed: Seq[String], prefix: String,
                               maxExpansions: Int = 50) extends SubQuery

/** `regexp` query: constant-score multi-term over the term dictionary —
 *  Lucene RegexpQuery under its default CONSTANT_SCORE rewrite. As in
 *  Lucene, the pattern must match the ENTIRE term (implicit anchors).
 *  The syntax is restricted to the core shared by Java regex and RE2
 *  (literals, classes, grouping, alternation, `*`/`+`/`?`/`.`) so the
 *  engine and the oracle evaluate the identical automaton. */
case class RegexPattern(pattern: String, boost: Double = 1.0) extends SubQuery

/** `exists` query: docs whose FIELD produced at least one indexed token —
 *  Lucene FieldExistsQuery semantics (a missing / empty / all-whitespace
 *  value indexes nothing, so it does not exist). Constant score; reads only
 *  the field index's forward table and respects tombstones via its dl
 *  gate. `field` = "text" for the primary index, else a
 *  [[HybridSources.fieldIdx]] entry. */
case class ExistsQ(field: String = "text", boost: Double = 1.0) extends SubQuery

/** `span_near` over term spans, in filter context: a doc matches when one
 *  position per term can be chosen — all positions distinct, strictly
 *  increasing in the given order when `inOrder` — with
 *  `(max - min + 1) - k <= slop` (Lucene's span-width rule; inOrder slop=0
 *  over k terms is exactly the k-term phrase). Constant score: the
 *  constant_score-wrapped span form every filter-context span query uses;
 *  Lucene's sloppy-freq SpanScorer weighting is a documented non-goal. */
case class SpanNearQ(terms: Seq[String], slop: Int, inOrder: Boolean,
                     boost: Double = 1.0) extends SubQuery

/** `span_near` whose slots may be `field_masking_span` wrappers (Lucene
 *  FieldMaskingSpanQuery): each slot is (field, term) — a masked slot
 *  matches the term in ANOTHER field's position stream while "pretending"
 *  to be the primary field, so the span-width arithmetic runs over mixed
 *  streams. Lucene documents exactly this caveat (positions from parallel
 *  token streams compare only if the fields are analyzed compatibly — the
 *  user's contract, not the engine's); semantics are otherwise
 *  [[SpanNearQ]]'s width rule, constant score. Field "text" is the primary
 *  positional index; any other field needs
 *  [[HybridSources.fieldPositions]]. */
case class SpanNearMaskedQ(slots: Seq[(String, String)], slop: Int,
                           inOrder: Boolean, boost: Double = 1.0) extends SubQuery

/** `span_first` (Lucene SpanFirstQuery): the term span must end within
 *  the first `end` positions — for a term span, position < end. Constant
 *  score, like the rest of the filter-context span family. */
case class SpanFirstQ(term: String, end: Int, boost: Double = 1.0) extends SubQuery

/** `span_not` (Lucene SpanNotQuery with pre/post): occurrences of
 *  `include` are disqualified when an `exclude` occurrence falls within
 *  `[p - pre, p + post]`; the doc matches if any include occurrence
 *  survives. Constant score. */
case class SpanNotQ(include: String, exclude: String, pre: Int = 0,
                    post: Int = 0, boost: Double = 1.0) extends SubQuery

/** `span_containing` / `span_within` (one matched-set matcher serves both,
 *  see Phrase.spanContainingMatch): a qualifying BIG span_near span must
 *  contain an occurrence of the LITTLE term. Constant score, like the rest
 *  of the filter-context span family. */
case class SpanContainingQ(bigTerms: Seq[String], slop: Int, inOrder: Boolean,
                           little: String, boost: Double = 1.0) extends SubQuery

/** `has_child` as a composable clause: parents whose registered child
 *  relation has matching children — scored per score_mode over the matching
 *  children (see [[graft.ops.ParentChild.hasChild]]); composes anywhere a
 *  clause can because the output is doc_id-keyed (the parents ARE docs). */
case class HasChildQ(relation: String, terms: Seq[String], scoreMode: String,
                     minChildren: Int = 1, maxChildren: Int = Int.MaxValue,
                     boost: Double = 1.0) extends SubQuery

/** `more_like_this`: find docs similar to a stored document. Lucene's
 *  MoreLikeThis extracts the source doc's "interesting" terms — tf >=
 *  minTermFreq within the doc, df >= minDocFreq in the corpus — ranks them
 *  by tf × idf, keeps the top maxQueryTerms, and runs them as a disjunction
 *  with a minimum_should_match percentage (default 30%, floor, at least 1);
 *  the source doc itself is excluded from the hits. Term selection reads
 *  the doc's stored text ([[HybridSources.fields]]) exactly like the
 *  reference's _source-based MLT when term vectors are absent; the ranked
 *  selection is deterministic (score desc, term asc tie-break) so an
 *  independent engine reproduces the same term set. */
case class MoreLikeThisQ(likeId: Long,
                         maxQueryTerms: Int = 25,
                         minTermFreq: Int = 2,
                         minDocFreq: Int = 5,
                         msmRatio: Double = 0.3) extends SubQuery

/** `pinned`: promote the named documents above every organic hit, in the
 *  GIVEN id order (Lucene's PinnedQueryBuilder scores pin i at a constant
 *  far above any organic score, decreasing with position); pinned ids are
 *  removed from the organic results, and only LIVE pinned docs surface.
 *  PinBase mirrors Lucene's huge constant pattern. */
case class PinnedQ(ids: Seq[Long], organic: SubQuery) extends SubQuery
object PinnedQ { val PinBase: Double = 1e9 }

/** `distance_feature`: boost by proximity of a stored numeric field to an
 *  origin — score = boost · pivot / (pivot + |value − origin|), the exact
 *  Lucene DistanceFeatureQuery curve (score boost/2 at distance = pivot).
 *  Matches every live doc carrying the field. */
case class DistanceFeatureQ(field: String, origin: Double, pivot: Double,
                            boost: Double = 1.0) extends SubQuery

/** `rank_feature`: score docs by a stored per-doc numeric feature — the
 *  token-weight field the reference persists via Lucene FeatureField
 *  (query/NeuralSparseQueryBuilder.java:576-581 writes token→weight exactly
 *  so feature queries can score them). Functions are Lucene's
 *  FeatureField factories: saturation w/(w+pivot) — pivot/(w+pivot) when
 *  the feature has negative score impact — log ln(scalingFactor + w),
 *  sigmoid wᵃ/(wᵃ+pivotᵃ), linear w. Docs without the feature token do
 *  not match (FeatureField postings semantics). */
case class RankFeatureQ(token: String,
                        fn: String = "saturation",
                        pivot: Double = 1.0,
                        scalingFactor: Double = 1.0,
                        exponent: Double = 1.0,
                        boost: Double = 1.0,
                        positiveImpact: Boolean = true) extends SubQuery

/** One function of a `function_score` query (Lucene FunctionScoreQuery /
 *  filter-functions, which the reference composes freely — any core
 *  QueryBuilder is legal as a hybrid/bool sub-query, built via
 *  `qb.rewrite(context).toQuery(context)`,
 *  query/HybridQueryBuilder.java:368-377). Each function yields a raw value
 *  `r` for the docs whose `filter` matches (no filter = every doc); its
 *  contribution is `r * weight`. */
sealed trait ScoreFn {
  def weight: Double
  def filter: Option[SubQuery]
}

/** `{"filter": ..., "weight": w}` — constant w where the filter matches. */
case class WeightFn(weight: Double = 1.0,
                    filter: Option[SubQuery] = None) extends ScoreFn

/** `field_value_factor`: modifier(factor * fieldValue), null field values
 *  fall back to `missing` (OpenSearch errors without it — so do we). */
case class FieldValueFactorFn(field: String,
                              factor: Double = 1.0,
                              modifier: String = "none",
                              missing: Option[Double] = None,
                              weight: Double = 1.0,
                              filter: Option[SubQuery] = None) extends ScoreFn

/** Decay scoring over a numeric field — gauss / exp / linear with the
 *  standard parameterization: dist = max(0, |v - origin| - offset), and the
 *  curve fixed by requiring value(origin±scale) = decay:
 *  gauss  exp(-dist² / (2σ²)),  σ² = -scale² / (2 ln decay)
 *  exp    exp(ln(decay)/scale * dist)
 *  linear max(0, (s - dist)/s), s = scale / (1 - decay) */
case class DecayFn(kind: String,
                   field: String,
                   origin: Double,
                   scale: Double,
                   offset: Double = 0.0,
                   decay: Double = 0.5,
                   weight: Double = 1.0,
                   filter: Option[SubQuery] = None) extends ScoreFn

/** `function_score`: rescore the inner query's matches with a set of
 *  functions. Matching functions combine per `scoreMode`
 *  (multiply / sum / avg / max / min / first — avg is the WEIGHTED average
 *  Σwᵢrᵢ/Σwᵢ, Lucene's FiltersFunctionScoreQuery contract); when NO
 *  function matches a doc the factor is the neutral 1.0. The factor is
 *  capped at `maxBoost` and folded into the query score per `boostMode`
 *  (multiply / replace / sum / avg / max / min). The matched DOC SET is
 *  always the inner query's — functions only reshape scores. */
case class FunctionScore(inner: SubQuery,
                         functions: Seq[ScoreFn],
                         scoreMode: String = "multiply",
                         boostMode: String = "multiply",
                         maxBoost: Double = Double.MaxValue) extends SubQuery

/** A nested `bool` clause — Lucene BooleanQuery nests arbitrarily. The
 *  nested bool's qualifying docs contribute their summed clause score to
 *  the enclosing query; semantics (must intersection, should msm gate,
 *  must_not exclusion, filter-context zero score) are
 *  [[graft.query.BoolQuery]]'s. Also the top-level bool request shape
 *  (`BoolQuery.BoolSpec` is an alias of this). */
case class BoolSub(
    must: Seq[SubQuery] = Nil,
    should: Seq[SubQuery] = Nil,
    mustNot: Seq[SubQuery] = Nil,
    minimumShouldMatch: Option[Int] = None,
    /** FILTER context: clauses a doc must match, contributing NO score
     *  (Lucene BooleanClause.Occur.FILTER — required, non-scoring). */
    filter: Seq[SubQuery] = Nil
) extends SubQuery {
  /** BooleanQuery's documented default: 1 when there are should clauses and
   *  no must/filter clauses, else 0. */
  def effectiveMsm: Int =
    minimumShouldMatch.getOrElse(
      if (must.isEmpty && filter.isEmpty && should.nonEmpty) 1 else 0)
}

object SubQuery {
  /** Back-compat constructor: a bare SubQuery(terms) is a lexical clause. */
  def apply(terms: Seq[String], boosts: Map[String, Double] = Map.empty): Lexical =
    Lexical(terms, boosts)
}

/** Kind of the generated sub-field a semantic field routes to (the
 *  reference's dense knn_vector vs sparse rank_features sub-field). */
sealed trait SemanticKind
case object SemanticSparseKind extends SemanticKind
case object SemanticDenseKind extends SemanticKind

/** A registered semantic field's generated chunk-level sub-field: sparse
 *  chunks are (doc_id, chunk_idx, token, w) from
 *  [[graft.ops.Semantic.ingestSparse]]; dense chunks are
 *  (doc_id, chunk_idx, dim, v) from [[graft.ops.Semantic.ingestDense]] with
 *  `dims` the hashing dimensionality (needed to encode the query). */
case class SemanticSource(kind: SemanticKind, chunks: DataFrame, dims: Int = 8,
    /** probe-routed access path for DENSE kinds: the chunk-vector IVF
     *  artifact from [[graft.ops.Semantic.denseChunkIvf]]. When present the
     *  routed query scans only its probed `c_id` partitions (exact at
     *  ivfProbe = centroid count); absent -> exact exploded-chunk scan, the
     *  fallback a selective filter or an unindexed field takes. */
    ivf: Option[IvfSource] = None,
    ivfProbe: Int = Int.MaxValue)

/** Field collapsing config (reference: HybridCollapsingTopDocsCollector —
 *  `docs_per_group_per_subquery` bounds how many docs of one group each
 *  sub-query may contribute before normalization). */
case class Collapse(field: String, docsPerGroupPerSubquery: Int = 1)

/** The data sources hybrid sub-queries score against: the inverted index
 *  (lexical), the encoded token-weight table (sparse: doc_id, token, w), the
 *  embedding table (dense: doc_id, vec), and the stored-fields table
 *  (collapse group values). */
/** The dense-ANN structure a [[DenseIvf]] clause probes: the centroid table
 *  (c_id, cv) and [[graft.ops.Ann.ivfBuildVectors]]'s by-centroid
 *  partitioned vector artifact (doc_id, vec, c_id). */
case class IvfSource(centroids: DataFrame, vectors: DataFrame)

case class HybridSources(
    idx: Index,
    sparse: Option[DataFrame] = None,
    emb: Option[DataFrame] = None,
    fields: Option[DataFrame] = None,
    ivf: Option[IvfSource] = None,
    semantic: Map[String, SemanticSource] = Map.empty,
    positions: Option[org.apache.spark.sql.Dataset[graft.index.PosBlock]] = None,
    /** secondary per-field indexes for [[LexicalMulti]]; the primary `idx`
     *  is always addressable as field "text" */
    fieldIdx: Map[String, Index] = Map.empty,
    /** secondary per-field positional blocks for [[PhraseFields]]
     *  multi_match; field "text" resolves to [[positions]] */
    fieldPositions: Map[String, org.apache.spark.sql.Dataset[graft.index.PosBlock]] = Map.empty,
    /** child relations for [[HasChildQ]]: relation name -> child table with
     *  a `parent_id` column and a text column (the parent-join field) */
    children: Map[String, (DataFrame, String)] = Map.empty,
    /** index-level synonym graph (analyzer config): query-time, a `match`
     *  clause rewrites each analyzed token into a Lucene SynonymQuery over
     *  {token} ∪ synonyms(token) — the DSL never mentions synonyms, the
     *  index configuration injects them (Lucene SynonymGraphFilter on the
     *  search_analyzer). Deterministic map; must be driver-small, exactly
     *  like an OpenSearch synonym file. */
    synonyms: Map[String, Seq[String]] = Map.empty,
    /** SEISMIC clustered sparse artifact for [[SparseAnn]] clauses — the
     *  per-field clustered posting index a neural_sparse clause with
     *  `method_parameters` probes (reference: a SEISMIC-enabled
     *  sparse_tokens field carries its clustered codec artifact). */
    seismic: Option[org.apache.spark.sql.Dataset[graft.ops.ClusteredPosting]] = None
) {
  /** The index of field `f`: "text" is the primary [[idx]]. */
  def field(f: String): Index = if (f == "text") idx else fieldIdx(f)
}

case class HybridQuery(
    subQueries: Seq[SubQuery],
    norm: Normalization = MinMaxNormTech(),
    comb: Combination = Combination(Combine.Arithmetic),
    k: Int = 10,
    depth: Int = 50,
    from: Int = 0,
    minScore: Option[Double] = None,
    useFloat: Boolean = false,
    collapse: Option[Collapse] = None
)

object Hybrid {

  /** max sub-queries, as the reference enforces (HybridQueryBuilder.java:67). */
  val MaxSubQueries = 5

  /** `index.max_result_window` default — pagination depth is bounded by it
   *  (reference: HybridQueryBuilder.java:61-68,379-400). */
  val MaxResultWindow = 10000

  /** z_score only combines with arithmetic_mean
   *  (reference: ScoreNormalizationFactory.java:111-132). */
  private def validate(src: HybridSources, q: HybridQuery): Unit = {
    require(q.subQueries.nonEmpty && q.subQueries.size <= MaxSubQueries,
      s"hybrid query supports 1..$MaxSubQueries sub-queries")
    require(q.norm != ZScoreNormTech || q.comb.technique == Combine.Arithmetic,
      "z_score normalization supports only arithmetic_mean combination")
    require(q.depth >= 1 && q.depth <= MaxResultWindow,
      s"pagination_depth must be in [1, $MaxResultWindow] (index.max_result_window)")
    require(q.k >= 1 && q.from >= 0, "size must be >= 1 and from >= 0")
    if (q.comb.weights.nonEmpty) {
      require(q.comb.weights.size == q.subQueries.size, "weights count must match sub-queries")
      require(math.abs(q.comb.weights.sum - 1.0) <= 0.01, "weights must sum to 1.0 (+-0.01)")
      require(q.comb.weights.forall(w => w >= 0 && w <= 1), "weights must be in [0,1]")
    }
    validateClauseSources(src, q.subQueries)
    require(q.collapse.isEmpty || src.fields.nonEmpty,
      "collapse requires HybridSources.fields with the collapse column")
    require(q.collapse.forall(_.docsPerGroupPerSubquery >= 1),
      "docs_per_group_per_subquery must be >= 1")
  }

  /** Per-clause source requirements — shared by hybrid and bool execution
   *  (both score the same clause ADT against the same sources). */
  private def minChildrenOk(minC: Int, maxC: Int): Boolean =
    minC >= 1 && maxC >= minC

  private[graft] def validateClauseSources(src: HybridSources,
                                           clauses: Seq[SubQuery]): Unit = {
    clauses.foreach {
      case LexicalPhrase(ph, slop) =>
        require(src.positions.nonEmpty,
          "match_phrase sub-query requires HybridSources.positions (positional blocks)")
        require(ph.size >= 2, "a phrase needs at least 2 terms")
        require(slop >= 0, s"[slop] must be >= 0, got $slop")
      case LexicalPhrasePrefix(fixed, prefix, maxExp) =>
        require(src.positions.nonEmpty,
          "match_phrase_prefix requires HybridSources.positions (positional blocks)")
        require(fixed.nonEmpty,
          "match_phrase_prefix needs at least one exact leading term")
        require(prefix.nonEmpty && prefix.matches("[a-z0-9]+"),
          s"prefix must be a non-empty analyzed token, got [$prefix]")
        require(maxExp >= 1, s"max_expansions must be >= 1, got $maxExp")
      case LexicalSyn(groups) =>
        require(groups.nonEmpty, "synonym match requires at least one position group")
        groups.foreach { case (g, b) =>
          require(g.nonEmpty, "a synonym group must carry at least one term")
          require(b > 0, s"[boost] must be > 0, got $b")
        }
      case _: SparseLinear => require(src.sparse.nonEmpty,
        "sparse sub-query requires HybridSources.sparse (doc_id, token, w)")
      case sa: SparseAnn =>
        require(src.seismic.nonEmpty,
          "sparse ANN sub-query (method_parameters) requires " +
            "HybridSources.seismic (clustered posting artifact)")
        require(sa.query.nonEmpty, "sparse ANN sub-query requires query tokens")
        require(sa.topN >= 1, s"[top_n] must be >= 1, got ${sa.topN}")
        require(sa.k >= 1, s"[k] must be >= 1, got ${sa.k}")
        require(sa.heapFactor > 0,
          s"[heap_factor] must be > 0, got ${sa.heapFactor}")
        require(sa.filter.isEmpty || src.fields.nonEmpty,
          "sparse ANN [filter] requires HybridSources.fields (the filter " +
            "predicate evaluates over the stored-fields table)")
      case _: DenseCosine => require(src.emb.nonEmpty,
        "dense sub-query requires HybridSources.emb (doc_id, vec)")
      case DenseVector(v, ms, md) =>
        require(src.emb.nonEmpty, "dense sub-query requires HybridSources.emb (doc_id, vec)")
        require(v.nonEmpty, "knn sub-query requires a non-empty vector")
        require(!(ms.isDefined && md.isDefined),
          "only one of [min_score], [max_distance] can be provided")
        require(md.forall(_ >= 0.0), "max_distance must be >= 0")
      case DenseIvf(_, nProbe) =>
        require(src.ivf.nonEmpty,
          "ivf dense sub-query requires HybridSources.ivf (centroids + partitioned vectors)")
        require(src.emb.nonEmpty,
          "ivf dense sub-query requires HybridSources.emb for the query-vector lookup")
        require(nProbe >= 1, "nProbe must be >= 1")
      case SemanticText(field, terms) =>
        require(src.semantic.contains(field),
          s"[$field] is not a registered semantic field — a neural clause with " +
            "query_text routes to the field's generated sub-field " +
            "(HybridSources.semantic)")
        require(terms.nonEmpty, "semantic query requires non-empty query text")
      case HasChildQ(rel, terms, mode, minC, maxC, boost) =>
        require(src.children.contains(rel),
          s"[$rel] is not a registered child relation (HybridSources.children)")
        require(terms.nonEmpty, "has_child requires a non-empty query")
        require(Set("none", "sum", "avg", "max", "min").contains(mode),
          s"score_mode must be none/sum/avg/max/min, got [$mode]")
        require(minChildrenOk(minC, maxC), s"bad min/max_children: $minC/$maxC")
        require(boost > 0, s"boost must be > 0, got $boost")
      case ScriptScoreQ(inner, _, qv, boost) =>
        require(src.emb.nonEmpty,
          "script_score vector functions require HybridSources.emb (doc_id, vec)")
        require(qv.nonEmpty, "script_score requires a non-empty params.query_vector")
        require(boost > 0, s"boost must be > 0, got $boost")
        validateClauseSources(src, Seq(inner))
      case DenseRadial(_, ms, md) =>
        require(src.emb.nonEmpty, "radial sub-query requires HybridSources.emb (doc_id, vec)")
        // the reference rejects any combination of more than one of
        // k / max_distance / min_score (NeuralQueryValidationUtil.java:139-148)
        require(ms.isDefined ^ md.isDefined,
          "radial knn requires exactly one of [min_score], [max_distance]")
        require(md.forall(_ >= 0.0), "max_distance must be >= 0")
      case LexicalMulti(fields, terms, mm) =>
        require(fields.nonEmpty, "multi_match requires at least one field")
        require(terms.nonEmpty, "multi_match requires a non-empty query text")
        fields.foreach { case (f, b) =>
          require(f == "text" || src.fieldIdx.contains(f),
            s"multi_match field [$f] has no index — register it in HybridSources.fieldIdx")
          require(b > 0, s"field boost must be > 0, got [$f^$b]")
        }
        mm match {
          case BestFields(tb) =>
            require(tb >= 0.0 && tb <= 1.0, s"tie_breaker must be in [0,1], got $tb")
          case MostFields  => ()
          case CrossFields => ()
          case CombinedFields(msm) =>
            require(msm >= 0, s"minimum_should_match must be >= 0, got $msm")
            // Lucene's CombinedFieldQuery rejects field weights < 1 (the
            // merged-norm upper bound breaks below 1)
            fields.foreach { case (f, b) =>
              require(b >= 1.0,
                s"combined_fields requires field weights >= 1, got [$f^$b]")
            }
          case BoolPrefixFields(tb) =>
            require(tb >= 0.0 && tb <= 1.0, s"tie_breaker must be in [0,1], got $tb")
            require(terms.last.matches("[a-z0-9]+"),
              s"bool_prefix's last token must be an analyzed token, got [${terms.last}]")
          case PhraseFields(tb, slop) =>
            require(tb >= 0.0 && tb <= 1.0, s"tie_breaker must be in [0,1], got $tb")
            require(slop >= 0, s"[slop] must be >= 0, got $slop")
            require(terms.size >= 2, "a phrase needs at least 2 terms")
            fields.foreach { case (f, _) =>
              require(if (f == "text") src.positions.nonEmpty
                      else src.fieldPositions.contains(f),
                s"multi_match phrase field [$f] has no positional blocks — " +
                  "register them in HybridSources.fieldPositions " +
                  "(field \"text\" uses HybridSources.positions)")
            }
          case PhrasePrefixFields(tb, maxExp) =>
            require(tb >= 0.0 && tb <= 1.0, s"tie_breaker must be in [0,1], got $tb")
            require(maxExp >= 1, s"max_expansions must be >= 1, got $maxExp")
            require(terms.size >= 2,
              "multi_match phrase_prefix needs at least one exact leading term")
            require(terms.last.matches("[a-z0-9]+"),
              s"prefix must be a non-empty analyzed token, got [${terms.last}]")
            fields.foreach { case (f, _) =>
              require(if (f == "text") src.positions.nonEmpty
                      else src.fieldPositions.contains(f),
                s"multi_match phrase_prefix field [$f] has no positional blocks — " +
                  "register them in HybridSources.fieldPositions " +
                  "(field \"text\" uses HybridSources.positions)")
            }
        }
      case LexicalMsm(terms, m, _) =>
        require(terms.nonEmpty, "match requires a non-empty query text")
        require(m >= 1 && m <= terms.distinct.size,
          s"minimum_should_match must be in [1, ${terms.distinct.size}], got $m")
      case r @ RangeQ(f, _, _, _, _, boost) =>
        require(f.nonEmpty, "range requires a [field]")
        require(src.fields.nonEmpty,
          "a scoring range clause requires HybridSources.fields with the range column")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case TermsSetFieldQ(terms, msmField, boost) =>
        require(terms.nonEmpty, "terms_set requires a non-empty [terms] array")
        require(terms.forall(_.matches("[a-z0-9]+")),
          s"terms_set terms must be analyzed tokens, got [${terms.mkString(" ")}]")
        require(msmField.nonEmpty, "terms_set requires [minimum_should_match_field]")
        require(src.fields.nonEmpty,
          "terms_set requires HybridSources.fields with the minimum_should_match_field column")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case MatchAll(boost) =>
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case b: BoolSub =>
        b.minimumShouldMatch.foreach { m =>
          require(m >= 0 && m <= b.should.size,
            s"minimum_should_match must be in [0, ${b.should.size}]")
        }
        validateClauseSources(src, b.must ++ b.should ++ b.mustNot ++ b.filter)
      case TermPattern(p, boost) =>
        // the alphabet restriction keeps LIKE semantics identical across
        // engines (no escape-char divergence) and matches what the analyzer
        // can ever have indexed
        require(p.nonEmpty && p.matches("[a-z0-9%_]+"),
          s"term pattern must be non-empty [a-z0-9] plus wildcards, got [$p]")
        require(p.exists(c => c != '%' && c != '_'),
          "a pattern of only wildcards is a match_all — use match_all")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case ConstantScore(inner, boost) =>
        require(boost > 0, s"[boost] must be > 0, got $boost")
        inner match {
          case _: ConstantScore => throw new IllegalArgumentException(
            "constant_score directly wrapping constant_score is redundant")
          case _ => ()
        }
        validateClauseSources(src, Seq(inner))
      case DisMax(clauses, tb) =>
        require(clauses.nonEmpty, "dis_max requires at least one clause")
        require(tb >= 0.0 && tb <= 1.0, s"tie_breaker must be in [0,1], got $tb")
        validateClauseSources(src, clauses)
      case Boosting(pos, neg, nb) =>
        // Lucene requires a non-negative negative_boost; >= 1 would be a
        // promotion, which the boosting query is not for — but Lucene allows
        // it, so only negativity is rejected
        require(nb >= 0.0, s"negative_boost must be >= 0, got $nb")
        validateClauseSources(src, Seq(pos, neg))
      case Fuzzy(t, f, boost, _) =>
        require(t.nonEmpty && t.matches("[a-z0-9]+"),
          s"fuzzy term must be non-empty [a-z0-9], got [$t]")
        require(f >= 0 && f <= 2,
          s"fuzziness must be in [0, 2] (Lucene's bound), got $f")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case IntervalsQ(source, boost) =>
        require(src.positions.nonEmpty,
          "intervals requires HybridSources.positions (positional blocks)")
        require(source.leafTerms.forall(_.matches("[a-z0-9]+")),
          "intervals leaf terms must be analyzed single tokens")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case IdsQ(ids, boost) =>
        require(ids.nonEmpty, "ids query requires at least one id")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case TermsSet(values, boost) =>
        require(values.nonEmpty, "terms query requires at least one value")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case RegexPattern(p, boost) =>
        // portable-core syntax only: both engines compile the same automaton
        require(p.nonEmpty && p.matches("""[a-z0-9\[\]()|*+?.^-]+"""),
          s"regexp must be non-empty [a-z0-9] plus []()|*+?.^-, got [$p]")
        try java.util.regex.Pattern.compile(p)
        catch { case e: java.util.regex.PatternSyntaxException =>
          throw new IllegalArgumentException(s"invalid regexp [$p]: ${e.getMessage}")
        }
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case ExistsQ(f, boost) =>
        require(f == "text" || src.fieldIdx.contains(f),
          s"exists field [$f] has no index — register it in HybridSources.fieldIdx")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case SpanNearQ(ts, slop, _, boost) =>
        require(src.positions.nonEmpty,
          "span_near requires HybridSources.positions (positional blocks)")
        require(ts.size >= 2, "span_near needs at least 2 span_term clauses")
        require(ts.forall(_.matches("[a-z0-9]+")),
          s"span_near terms must be analyzed single tokens, got [${ts.mkString(" ")}]")
        require(slop >= 0, s"slop must be >= 0, got $slop")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case SpanNearMaskedQ(slots, slop, _, boost) =>
        require(slots.size >= 2, "span_near needs at least 2 span clauses")
        slots.foreach { case (f, t) =>
          require(f == "text" || src.fieldPositions.contains(f),
            s"field_masking_span field [$f] has no positional index — " +
              "register it in HybridSources.fieldPositions")
          require(t.matches("[a-z0-9]+"),
            s"span terms must be analyzed single tokens, got [$t]")
        }
        require(slots.exists(_._1 == "text"),
          "a masked span_near still needs at least one primary-field slot")
        require(src.positions.nonEmpty,
          "span_near requires HybridSources.positions (positional blocks)")
        require(slop >= 0, s"slop must be >= 0, got $slop")
        require(boost > 0, s"[boost] must be > 0, got $boost")
      case m: MoreLikeThisQ =>
        require(src.fields.nonEmpty,
          "more_like_this requires HybridSources.fields (the stored docs table) " +
            "to read the source document's text")
        require(m.maxQueryTerms >= 1, "max_query_terms must be >= 1")
        require(m.minTermFreq >= 1 && m.minDocFreq >= 1,
          "min_term_freq and min_doc_freq must be >= 1")
        require(m.msmRatio >= 0.0 && m.msmRatio <= 1.0,
          s"minimum_should_match ratio must be in [0,1], got ${m.msmRatio}")
      case _ => ()
    }
  }

  /**
   * Execute a hybrid query, eagerly: one Spark job collects every clause's
   * top `depth` ([[collection]]), and the driver normalizes, combines and
   * pages the collected rows ([[fuse]]).
   * @param filterDocs optional non-scoring filter: a DataFrame with a
   * `doc_id` column; only those docs may match any sub-query.
   * @return a local DataFrame(doc_id, score) — the final page, ordered.
   */
  def execute(idx: Index, q: HybridQuery, filterDocs: Option[DataFrame] = None): DataFrame =
    execute(HybridSources(idx), q, filterDocs)

  def execute(src: HybridSources, q: HybridQuery, filterDocs: Option[DataFrame]): DataFrame =
    scoreRows(src, page(full(src, q, filterDocs)._1, q))

  /**
   * Execute with total-hits reporting, eagerly and in one Spark job like
   * [[execute]]: the final page plus a `total_hits` column carrying the
   * matched-doc count AFTER the min_score filter, and the
   * TotalHits.Relation in `relation` under the reference's rule
   * (reference: processor/combination/ScoreCombiner.java:136-159,377-395):
   *
   *  - min_score dropped docs (post-filter count < pre-filter count) ->
   *    the combiner RECOUNTED exactly, so relation is `eq`;
   *  - otherwise the collector's relation survives: `gte` iff some
   *    sub-query's collection was TRUNCATED at the depth bound (collected
   *    rows == depth — more could have matched below the bound), else `eq`.
   *
   * A merged count >= depth does NOT imply truncation (two sub-queries each
   * fully collecting 30 docs merge past a depth of 50 while both counts are
   * exact), so the relation derives from per-sub-query collection counts,
   * not from the merged size. Counts, flag and page all come from the one
   * collected array.
   */
  def executeWithTotal(src: HybridSources, q: HybridQuery,
                       filterDocs: Option[DataFrame] = None): DataFrame = {
    val (kept, pre, truncated) = full(src, q, filterDocs)
    val relation =
      if (kept.size < pre) "eq" // min_score recount is exact (ScoreCombiner.getTotalHits)
      else if (truncated) "gte"
      else "eq"
    local(src, page(kept, q).map(d => Row(d.id, d.score, kept.size.toLong, relation)),
      "doc_id" -> LongType, "score" -> DoubleType, "total_hits" -> LongType,
      "relation" -> StringType)
  }

  /** Explain mode: the final page plus the per-sub-query normalized scores
   *  that produced each combined score (reference:
   *  processor/ExplanationResponseProcessor.java — per-doc normalization/
   *  combination breakdown attached to every hit). Columns:
   *  doc_id, norm0..norm{n-1}, score. */
  def executeExplain(idx: Index, q: HybridQuery, filterDocs: Option[DataFrame] = None): DataFrame =
    executeExplain(HybridSources(idx), q, filterDocs)

  def executeExplain(src: HybridSources, q: HybridQuery, filterDocs: Option[DataFrame]): DataFrame =
    local(src, page(full(src, q, filterDocs)._1, q).map(d =>
      Row.fromSeq(d.id +: d.norms.toSeq :+ d.score)),
      ("doc_id" -> LongType) +: q.subQueries.indices.map(i => s"norm$i" -> DoubleType) :+
        ("score" -> DoubleType): _*)

  /** Per-stage technique description attached to explain output — the
   *  reference emits these strings per processor stage
   *  (reference: processor/ExplanationResponseProcessor.java:1-161,
   *  normalization/combination `describe()` of each technique). */
  def describe(q: HybridQuery): String = {
    val n = q.norm match {
      case MinMaxNormTech(lo, up) =>
        "min_max" + (if (lo.nonEmpty || up.nonEmpty) " (bounded)" else "")
      case L2NormTech       => "l2"
      case ZScoreNormTech   => "z_score"
      case RrfNormTech(rc)  => s"rrf, rank_constant [$rc]"
    }
    val w =
      if (q.comb.weights.nonEmpty) s", weights ${q.comb.weights.mkString("[", ", ", "]")}"
      else ""
    s"normalization [$n], combination [${q.comb.technique}$w]"
  }

  /** Lexicographic strictly-after predicate for cursor pagination: the row
   *  tuple (sort keys..., doc_id) must order strictly beyond the cursor
   *  values under each key's direction — OpenSearch's `search_after`, the
   *  scale-correct deep-paging form (each page's collection SKIPS everything
   *  at or before the cursor instead of collecting from+size rows). */
  private def afterPredicate(sort: Seq[(String, Boolean)],
                             vals: Seq[Any]): org.apache.spark.sql.Column = {
    val keys = sort.map { case (f, asc) =>
      (if (f == "_score") col("score") else col(f), asc)
    } :+ (col("doc_id"), true)
    require(vals.size == keys.size,
      s"search_after needs ${keys.size} values (one per sort key + the " +
        s"doc_id tiebreaker), got ${vals.size}")
    def rec(ks: Seq[(org.apache.spark.sql.Column, Boolean)], vs: Seq[Any]): org.apache.spark.sql.Column = {
      val (c, asc) = ks.head
      val v = lit(vs.head)
      val strict = if (asc) c > v else c < v
      if (ks.tail.isEmpty) strict else strict || (c === v && rec(ks.tail, vs.tail))
    }
    rec(keys, vals)
  }

  /**
   * Sort-enabled hybrid: hits ordered by stored fields instead of score.
   * Each sub-query collects its top-depth by the sort order (the collector's
   * TopFieldDocs), the runs merge with first-wins doc dedupe, and the final
   * page re-sorts the <= nSub x depth merged rows (reference:
   * processor/combination/ScoreCombiner.java:281-311 TopDocs.merge(sort, ...)
   * + LinkedHashSet dedupe). Every per-sub-query collection is a bounded
   * TakeOrdered, so no stage sorts an unbounded row set. A sort by `_score`
   * desc alone is [[execute]]'s order: it pages on the driver, one Spark job.
   *
   * @param sort (field, ascending) pairs; doc_id asc is the final tiebreak.
   * @return DataFrame(doc_id, sortField...): the final page, ordered.
   */
  def executeSorted(src: HybridSources, q: HybridQuery, sort: Seq[(String, Boolean)],
                    filterDocs: Option[DataFrame] = None,
                    searchAfter: Seq[Any] = Nil): DataFrame = {
    record(src, q, filterDocs)
    require(sort.nonEmpty, "executeSorted requires at least one sort field")
    require(searchAfter.isEmpty || q.from == 0,
      "[search_after] cannot be combined with [from] pagination")
    val fieldNames = sort.map(_._1).filter(_ != "_score")
    require(fieldNames.isEmpty || src.fields.nonEmpty,
      "sort requires HybridSources.fields with the sort columns")
    val byScore = sort.exists(_._1 == "_score")
    val after: Option[org.apache.spark.sql.Column] =
      if (searchAfter.isEmpty) None else Some(afterPredicate(sort, searchAfter))
    if (sort == Seq("_score" -> false)) {
      // fuse's order: the cursor (its predicate folds into the local
      // relation, no job), the collapse, min_score and the page run here
      validate(src, q)
      val docs = fuse(src, q, filterDocs)._1
      val past = after.map(scoreRows(src, docs).where(_).collect().map(_.getLong(0)).toSet)
      return scoreRows(src, page(minScored(q, oncePerGroup(q,
        past.fold(docs)(ids => docs.filter(d => ids(d.id))))), q))
    }
    val sortCols = sort.map { case (f, asc) =>
      val c = if (f == "_score") col("score") else col(f)
      if (asc) c.asc else c.desc
    } :+ col("doc_id").asc
    def fieldCols = src.fields.get.select((col("doc_id") +: fieldNames.map(col)): _*)

    val rows =
      if (byScore) {
        // sort criteria include _score (reference: SortField.Type.SCORE in
        // the hybrid sort, ScoreCombiner.getTopFieldDocs): the <= nSub x
        // depth combined docs before the final collapse (the collection's
        // per-group keep applies), then stored fields join for the
        // secondary keys. The winner per group is picked below under the
        // SORT order, min_score after it (ScoreCombiner.isMinScoreAvailable),
        // and the cursor here: scores exist only after combination.
        validate(src, q)
        val scored = scoreRows(src, fuse(src, q, filterDocs)._1)
        val joined = if (fieldNames.isEmpty) scored else scored.join(fieldCols, "doc_id")
        after.fold(joined)(joined.where)
      } else {
        // pure field sort: per-sub-query TopFieldDocs capped at depth,
        // first-wins merge (reference: TopDocs.merge(sort, ...) + dedupe);
        // scores are never computed, so min_score is a no-op here — exactly
        // the reference's isMinScoreAvailable == false path.
        validate(src, q.copy(minScore = None))
        val perSub = q.subQueries.map { sq =>
          val matched = scoreClause(src, sq, 0).select("doc_id")
          val filtered = filterDocs.fold(matched)(f =>
            matched.join(f.select("doc_id"), Seq("doc_id"), "left_semi"))
          // the cursor filter applies INSIDE each sub-query's depth-bounded
          // collection (OpenSearch's collector skips up to the cursor), so
          // deep pages never pay from+size collection and the predicate
          // prunes before the TopFieldDocs heap
          val withFields = filtered.join(fieldCols, "doc_id")
          after.fold(withFields)(withFields.where)
            .orderBy(sortCols: _*).limit(q.depth)
        }
        perSub.reduce(_ unionByName _).dropDuplicates("doc_id")
      }

    // collapse under sort: the best doc per group is the first under the
    // SORT order (reference: HybridCollapsingTopDocsCollector accepts the
    // sort criteria), kept via the salted two-level rank
    val collapsed = q.collapse match {
      case Some(c) =>
        val g = src.fields.get.select(col("doc_id"), col(c.field).as("_grp"))
        TopN.perGroup(rows.join(g, "doc_id"), Seq("_grp"), "doc_id", 1, sortCols)
          .drop("_grp")
      case None => rows
    }
    // min_score applies only when the sort orders by score
    // (ScoreCombiner.isMinScoreAvailable), to the post-collapse winners
    val msFiltered =
      if (byScore) q.minScore.fold(collapsed)(ms => collapsed.filter(col("score") >= ms))
      else collapsed
    val ordered = msFiltered.orderBy(sortCols: _*)
    (if (q.from > 0) ordered.offset(q.from) else ordered).limit(q.k)
  }

  /** Score a [[SparseAnn]] clause: the clause-level filter (a predicate
   *  over the stored-fields table) and the request-level filter both reach
   *  the cluster-skipping scorer as its candidate intersection — never a
   *  post-filter over the bounded heap. */
  private[graft] def scoreSparseAnn(src: HybridSources, sa: SparseAnn,
                                    requestFilter: Option[DataFrame]): DataFrame = {
    val clauseF = sa.filter.map(p => src.fields.get.where(p).select("doc_id"))
    val fd = (requestFilter, clauseF) match {
      case (Some(a), Some(b)) =>
        Some(a.select("doc_id").join(b, Seq("doc_id"), "left_semi"))
      case (a, b) => a.map(_.select("doc_id")).orElse(b)
    }
    graft.ops.Seismic.annTopK(src.seismic.get, sa.query, sa.k,
      queryCut = sa.topN, heapFactor = sa.heapFactor, filterDocs = fd)
  }

  /** The [[Bm25.scoreBatch]] clause a `match`-shaped sub-query compiles
   *  to, if it is one. A `match` over a token with an index-configured
   *  synonym entry (Lucene SynonymGraphFilter on the search_analyzer)
   *  rewrites into one SynonymQuery group per distinct token — the DSL
   *  never mentions synonyms, the index config injects them. */
  private def batchClause(src: HybridSources, sq: SubQuery): Option[Bm25.Clause] = sq match {
    case Lexical(terms, boosts) if src.synonyms.exists(kv => terms.contains(kv._1)) =>
      Some(Bm25.SynonymClause(terms.distinct.map(t =>
        ((t +: src.synonyms.getOrElse(t, Nil)).distinct, boosts.getOrElse(t, 1.0)))))
    case Lexical(terms, boosts) => Some(Bm25.TermClause(terms, boosts))
    case LexicalMsm(terms, m, boosts) => Some(Bm25.TermClause(terms, boosts, m))
    case LexicalSyn(groups) => Some(Bm25.SynonymClause(groups))
    case LexicalMulti(fields, terms, CrossFields) =>
      Some(Bm25.CrossFieldsClause(fields.map { case (f, b) => (src.field(f), b) }, terms))
    case LexicalMulti(fields, terms, CombinedFields(msm)) =>
      Some(Bm25.CombinedFieldsClause(fields.map { case (f, w) => (src.field(f), w) }, terms, msm))
    case _ => None
  }

  /** Score one sub-query clause: DataFrame(doc_id, score), unbounded rows. */
  private[graft] def scoreClause(src: HybridSources, sq: SubQuery, boundPerBucket: Int): DataFrame =
    sq match {
      case _: Lexical | _: LexicalSyn | _: LexicalMsm |
           LexicalMulti(_, _, CrossFields | _: CombinedFields) =>
        // one batch clause: its whole score forms inside the bucket, so
        // the per-bucket bound is a valid upper set for the global top-k
        Bm25.scoreBatch(src.idx, Seq(batchClause(src, sq).get), boundPerBucket)
          .toDF("clause", "doc_id", "score").select("doc_id", "score")
      case TermsSetFieldQ(terms, msmField, boost) =>
        // per-doc msm from the stored field: the full scored set joins its
        // distinct-matched-term counts and the field — no per-bucket trim
        // (the gate depends on the field, so a trim could drop a qualifier)
        Bm25.termsSetField(src.idx, terms, src.fields.get, msmField)
          .select($"doc_id", ($"score" * boost).as("score"))
      case RangeQ(f, gte, gt, lte, lt, boost) =>
        // plain pushed-down column predicate over the stored fields table,
        // constant score — never touches postings
        val pred = (gte.map(col(f) >= _) ++ gt.map(col(f) > _) ++
          lte.map(col(f) <= _) ++ lt.map(col(f) < _)).reduce(_ && _)
        src.fields.get.where(pred)
          .select($"doc_id", lit(boost).as("score"))
      case MatchAll(boost) =>
        // the live-doc universe, decoded block-locally from the forward
        // table — constant score, no postings touched
        graft.index.InvertedIndex.liveDocIds(src.idx.docLens)
          .select($"doc_id", lit(boost).as("score"))
      case b: BoolSub =>
        // nested bool: its qualifying set with summed scores — recursion
        // bottoms out at leaf clauses; each level is one aggregation shuffle
        graft.query.BoolQuery.score(src, b)
      case TermPattern(p, boost) =>
        Bm25.matchLike(src.idx, p).select($"doc_id", lit(boost).as("score"))
      case RegexPattern(p, boost) =>
        // same dictionary-scan shape as LIKE/fuzzy; Lucene anchors the
        // pattern to the whole term, so wrap in ^(?:…)$ for Java's
        // substring-matching rlike
        Bm25.matchWhere(src.idx, $"term".rlike(s"^(?:$p)$$"))
          .select($"doc_id", lit(boost).as("score"))
      case ExistsQ(f, boost) =>
        val fi = src.field(f)
        graft.index.InvertedIndex.existsDocIds(fi.docLens)
          .select($"doc_id", lit(boost).as("score"))
      case SpanNearQ(ts, slop, ord, boost) =>
        graft.query.Phrase.spanNearMatch(src.idx, src.positions.get, ts, slop, ord)
          .select($"doc_id", lit(boost).as("score"))
      case SpanNearMaskedQ(slots, slop, ord, boost) =>
        val slotPos = slots.map { case (f, t) =>
          (if (f == "text") src.positions.get else src.fieldPositions(f), f, t)
        }
        graft.query.Phrase.spanNearMaskedMatch(src.idx, slotPos, slop, ord)
          .select($"doc_id", lit(boost).as("score"))
      case IntervalsQ(source, boost) =>
        graft.query.Intervals.matchDocs(src.idx, src.positions.get, source)
          .select($"doc_id", lit(boost).as("score"))
      case SpanFirstQ(t, end, boost) =>
        graft.query.Phrase.spanFirstMatch(src.idx, src.positions.get, t, end)
          .select($"doc_id", lit(boost).as("score"))
      case SpanNotQ(inc, exc, pre, post, boost) =>
        graft.query.Phrase.spanNotMatch(src.idx, src.positions.get, inc, exc, pre, post)
          .select($"doc_id", lit(boost).as("score"))
      case SpanContainingQ(big, slop, ord, little, boost) =>
        graft.query.Phrase.spanContainingMatch(src.idx, src.positions.get,
          big, slop, ord, little)
          .select($"doc_id", lit(boost).as("score"))
      case Fuzzy(t, f, boost, transpositions) =>
        // term-dictionary scan with a codegen'd edit-distance predicate over
        // the DISTINCT (term, bucket) rows — the relational analogue of the
        // FST automaton intersection; the abs-length prefilter skips the
        // edit-distance computation for terms that cannot be within f.
        // transpositions=true (the Lucene default) uses the codegen'd
        // Damerau-Levenshtein expression; false the classic builtin.
        val dist =
          if (transpositions)
            graft.functions.StringFunctions.damerauDistance($"term", lit(t))
          else levenshtein($"term", lit(t))
        Bm25.matchWhere(src.idx,
          (abs(length($"term") - t.length) <= f) && dist <= f)
          .select($"doc_id", lit(boost).as("score"))
      case ConstantScore(inner, boost) =>
        scoreClause(src, inner, boundPerBucket = 0)
          .select($"doc_id", lit(boost).as("score"))
      case DisMax(clauses, tb) =>
        // union of the clauses' matched sets; one aggregation pivots the
        // per-clause scores (fixed-order FP sum) and takes the null-skipping
        // max — correct even when a clause scores negative (dense cosine)
        val tagged = clauses.zipWithIndex.map { case (c, i) =>
          scoreClause(src, c, boundPerBucket = 0)
            .select($"doc_id", $"score", lit(i).as("cid"))
        }
        val u = tagged.reduce(_ unionByName _)
        val pivots = clauses.indices.map(i =>
          max(when($"cid" === i, $"score")).as(s"_c$i")) :+ max($"score").as("_mx")
        val agg = u.groupBy($"doc_id").agg(pivots.head, pivots.tail: _*)
        val matchedSum = clauses.indices
          .map(i => coalesce(col(s"_c$i"), lit(0.0))).reduceLeft(_ + _)
        val score =
          if (tb == 0.0) col("_mx") else col("_mx") + lit(tb) * (matchedSum - col("_mx"))
        agg.select($"doc_id", score.as("score"))
      case IdsQ(ids, boost) =>
        // prune the forward table to only the ids' buckets, then decode and
        // keep the named live docs — bounded work however large the corpus
        val buckets = ids.map(_ >> graft.index.InvertedIndex.BucketBits).distinct
        graft.index.InvertedIndex.liveDocIds(
          src.idx.docLens.filter($"bucket".isin(buckets: _*)))
          .where($"doc_id".isin(ids: _*))
          .select($"doc_id", lit(boost).as("score"))
      case TermsSet(values, boost) =>
        Bm25.matchWhere(src.idx, $"term".isin(values: _*))
          .select($"doc_id", lit(boost).as("score"))
      case TermsLookupQ(id, path, boost) =>
        // one bounded point read of the lookup doc's stored field (the
        // reference's realtime GET), analyzed with the index's analyzer;
        // from there the clause IS an inline terms query
        val row = src.fields.get.where($"doc_id" === id).select(col(path))
          .take(1).headOption.getOrElse(throw new IllegalArgumentException(
            s"terms lookup: doc [$id] not found"))
        val vals = graft.analysis.Analyzer.analyze(src.idx.analyzer)(
          row.getString(0)).distinct.toSeq
        if (vals.isEmpty)
          src.idx.postings.sparkSession.range(0)
            .select(col("id").as("doc_id"), lit(0.0).as("score"))
        else
          Bm25.matchWhere(src.idx, $"term".isin(vals: _*))
            .select($"doc_id", lit(boost).as("score"))
      case MatchNoneQ =>
        src.idx.postings.sparkSession.range(0)
          .select(col("id").as("doc_id"), lit(0.0).as("score"))
      case m: MoreLikeThisQ =>
        // term selection: one bounded single-row read of the source doc's
        // text + one broadcast-sized term-stats lookup (the same shape as
        // every query's idf lookup); scoring is the standard msm-gated
        // disjunction, source doc excluded
        val text = src.fields.get
          .where($"doc_id" === m.likeId).select($"text")
          .take(1).headOption.map(_.getString(0))
          .getOrElse(throw new IllegalArgumentException(
            s"more_like_this: doc [${m.likeId}] not found"))
        val toks = graft.analysis.Analyzer.analyze(src.idx.analyzer)(text)
        val tf = toks.groupBy(identity).map { case (t, xs) => t -> xs.size }
          .filter(_._2 >= m.minTermFreq)
        val terms =
          if (tf.isEmpty) Seq.empty[String]
          else {
            val dfMap = src.idx.dfs(tf.keys.toSeq)
            val n = src.idx.stats.doc_count
            tf.toSeq
              .flatMap { case (t, f) =>
                dfMap.get(t).filter(_ >= m.minDocFreq)
                  .map(df => (t, f * Bm25.idf(df, n)))
              }
              .sortBy { case (t, s) => (-s, t) }
              .take(m.maxQueryTerms).map(_._1)
          }
        if (terms.isEmpty)
          src.idx.postings.sparkSession.range(0)
            .select(col("id").as("doc_id"), lit(0.0).as("score"))
        else {
          val msm = math.max(1, math.floor(m.msmRatio * terms.size).toInt)
          Bm25.scoreTerms(src.idx, terms, minTermsMatch = msm)
            .where($"doc_id" =!= m.likeId)
        }
      case Boosting(pos, neg, nb) =>
        // positive's matched set and score; ×negativeBoost where the doc
        // also matches the negative clause (no hard exclusion)
        val p = scoreClause(src, pos, boundPerBucket = 0)
        val n = scoreClause(src, neg, boundPerBucket = 0)
          .select($"doc_id", lit(true).as("_neg"))
        p.join(n, Seq("doc_id"), "left")
          .select($"doc_id",
            ($"score" * when($"_neg".isNotNull, nb).otherwise(1.0)).as("score"))
      case fs: FunctionScore =>
        scoreFunctionScore(src, fs)
      case PinnedQ(ids, organic) =>
        // organic scores minus the pinned ids, unioned with the live pinned
        // docs at position-decreasing constants far above any organic score
        // — same bucket-pruned bounded fetch as the ids query
        val org = scoreClause(src, organic, boundPerBucket = 0)
          .where(!$"doc_id".isin(ids: _*))
        val buckets = ids.map(_ >> graft.index.InvertedIndex.BucketBits).distinct
        val pinScore = ids.zipWithIndex
          .foldLeft(lit(null).cast("double")) { case (acc, (id, i)) =>
            when($"doc_id" === id, PinnedQ.PinBase - i).otherwise(acc)
          }
        val pinned = graft.index.InvertedIndex.liveDocIds(
            src.idx.docLens.filter($"bucket".isin(buckets: _*)))
          .where($"doc_id".isin(ids: _*))
          .select($"doc_id", pinScore.as("score"))
        pinned.unionByName(org)
      case DistanceFeatureQ(f, origin, pivot, boost) =>
        // proximity curve over a stored numeric field for every live doc —
        // one column-pruned join, a codegen'd scalar projection
        val flds = src.fields.getOrElse(throw new IllegalArgumentException(
          "distance_feature requires HybridSources.fields"))
        graft.index.InvertedIndex.liveDocIds(src.idx.docLens)
          .join(flds.select(col("doc_id"), col(f).cast("double").as("_v")), Seq("doc_id"))
          .select($"doc_id",
            (lit(boost) * pivot / (lit(pivot) + abs($"_v" - origin))).as("score"))
      case r: RankFeatureQ =>
        // feature postings seek: the token-weight table pruned to ONE token
        // (predicate reaches the scan), then a scalar scoring projection —
        // the FeatureField query never touches docs lacking the feature
        val tw = src.sparse.getOrElse(throw new IllegalArgumentException(
          "rank_feature requires HybridSources.sparse (the token-weight table)"))
          .where($"token" === r.token)
        val w = $"w"
        val s = r.fn match {
          case "saturation" =>
            if (r.positiveImpact) w / (w + r.pivot)
            else lit(r.pivot) / (w + r.pivot)
          case "log"     => log(w + r.scalingFactor)
          case "sigmoid" => pow(w, r.exponent) /
            (pow(w, r.exponent) + math.pow(r.pivot, r.exponent))
          case "linear"  => w
        }
        tw.select($"doc_id", (s * r.boost).as("score"))
      case LexicalMulti(fields, terms, pmm @ (_: PhraseFields | _: PhrasePrefixFields)) =>
        // per-field positional query (match_phrase or phrase_prefix)
        // against each field's OWN positional index and BM25 stats — the
        // prefix's expansions come from each field's own dictionary —
        // field boost as a constant multiplier, dis-max combine over
        // pivoted columns (the same fixed left-to-right fold as
        // best_fields — deterministic FP). Each field's positional
        // verification stays the bucket-local cogroup kernel; no
        // cross-field shuffle until the final doc_id aggregation over the
        // (tiny) per-field matched sets.
        val tb = pmm match {
          case PhraseFields(t, _)       => t
          case PhrasePrefixFields(t, _) => t
          case _                        => 0.0
        }
        val tagged = fields.zipWithIndex.map { case ((f, b), i2) =>
          val fi = src.field(f)
          val fp = if (f == "text") src.positions.get else src.fieldPositions(f)
          val scored = pmm match {
            case PhraseFields(_, 0) => graft.query.Phrase.score(fi, fp, terms)
            case PhraseFields(_, slop) =>
              graft.query.Phrase.sloppyScore(fi, fp, terms, slop)
            case PhrasePrefixFields(_, maxExp) =>
              graft.query.Phrase.phrasePrefixScore(fi, fp,
                terms.init, terms.last, maxExp)
            case _ => throw new IllegalStateException("unreachable")
          }
          scored.select($"doc_id", ($"score" * b).as("score"), lit(i2).as("fid"))
        }
        val u = tagged.reduce(_ unionByName _)
        val pivots = fields.indices.map(i2 =>
          max(when($"fid" === i2, $"score")).as(s"_f$i2"))
        val agg = u.groupBy($"doc_id").agg(pivots.head, pivots.tail: _*)
        val cols = fields.indices.map(i2 => coalesce(col(s"_f$i2"), lit(0.0)))
        val mx = cols.reduceLeft((a, b) => greatest(a, b))
        val score =
          if (tb == 0.0) mx
          else mx + lit(tb) * (cols.reduceLeft(_ + _) - mx)
        agg.select($"doc_id", score.as("score"))
      case LexicalMulti(fields, terms, mm) =>
        // per-field BM25 against each field's OWN index (its own postings,
        // lengths, df/avgdl — Lucene scores each field as an independent
        // TermQuery tree), field boost as a constant multiplier (equal to
        // boosting every term weight), then one doc_id aggregation combines.
        // No per-bucket bound on the field scorers: dismax/sum can promote a
        // doc that is below any single field's bucket-local top-k.
        val tagged = fields.zipWithIndex.map { case ((f, b), i) =>
          val fi = src.field(f)
          val fieldScore = mm match {
            case BoolPrefixFields(_) =>
              // bool_prefix: leading tokens as scored TermQueries, the last
              // as a constant-score prefix over THIS field's dictionary —
              // the parts sum like the bool should they compile to
              val parts =
                (if (terms.size > 1)
                   Seq(Bm25.scoreTerms(fi, terms.init, limitPerBucket = 0))
                 else Seq.empty) :+
                Bm25.matchLike(fi, terms.last + "%")
                  .select($"doc_id", lit(1.0).as("score"))
              parts.reduce(_ unionByName _)
                .groupBy($"doc_id").agg(sum($"score").as("score"))
            case _ => Bm25.scoreTerms(fi, terms, limitPerBucket = 0)
          }
          fieldScore
            .select($"doc_id", ($"score" * b).as("score"), lit(i).as("fid"))
        }
        val u = tagged.reduce(_ unionByName _)
        // pivot per-field scores so both combiners are FIXED left-to-right
        // folds over field order — deterministic FP, not shuffle-order sums
        val pivots = fields.indices.map(i =>
          max(when($"fid" === i, $"score")).as(s"_f$i"))
        val agg = u.groupBy($"doc_id").agg(pivots.head, pivots.tail: _*)
        val cols = fields.indices.map(i => coalesce(col(s"_f$i"), lit(0.0)))
        val sumCols = cols.reduceLeft(_ + _)
        def dismax(tb: Double) = {
          val mx = cols.reduceLeft((a, b) => greatest(a, b))
          if (tb == 0.0) mx else mx + lit(tb) * (sumCols - mx)
        }
        val score = mm match {
          case MostFields => sumCols
          case BestFields(tb) => dismax(tb)
          case BoolPrefixFields(tb) => dismax(tb)
        }
        agg.select($"doc_id", score.as("score"))
      case LexicalPhrase(ph, slop) =>
        // positional verification happens inside the bucket scorer; the
        // result is the unbounded matched set, like any lexical clause
        if (slop == 0) graft.query.Phrase.score(src.idx, src.positions.get, ph)
        else graft.query.Phrase.sloppyScore(src.idx, src.positions.get, ph, slop)
      case LexicalPhrasePrefix(fixed, prefix, maxExp) =>
        graft.query.Phrase.phrasePrefixScore(src.idx, src.positions.get,
          fixed, prefix, maxExp)
      case SparseLinear(qm) =>
        Sparse.linearScore(src.sparse.get, qm)
      case sa: SparseAnn =>
        // bool/bare context: only the clause-level filter applies here; the
        // hybrid collection path threads the request filter through
        // scoreSparseAnn so it reaches the scorer, never a post-filter
        scoreSparseAnn(src, sa, None)
      case DenseCosine(qid) =>
        // brute cosine against the whole embedding table; the scan feeds a
        // TakeOrdered top-depth, so no intermediate is larger than the table
        // itself. An ANN front (Seismic/IVF) slots in as a candidate filter.
        val e = src.emb.get
        val qv = e.where($"doc_id" === qid).select($"vec".as("qv"))
        e.crossJoin(broadcast(qv))
          .select($"doc_id", Ann.cosine($"vec", $"qv").as("score"))
      case DenseIvf(qid, nProbe) =>
        // ANN-fronted dense scoring: probe the IVF artifact's nProbe
        // query-closest centroid partitions (storage-layer pruning) instead
        // of brute-scanning the embedding table — only the probed partitions
        // are ever read. Docs outside the probed partitions simply don't
        // match this clause, exactly like candidates outside the reference's
        // HNSW beam.
        val iv = src.ivf.get
        val qvI = src.emb.get.where($"doc_id" === qid).select($"vec".as("qv"))
        Ann.ivfProbeScore(iv.vectors, iv.centroids, qvI, "doc_id", "vec", nProbe)
      case SemanticText(field, terms) =>
        // semantic-field routing: the registered field's KIND picks the
        // generated sub-field and scorer — sparse token-weight dot or dense
        // hashed-vector cosine, both nested best-chunk-per-doc (the
        // reference's semantic rewrite targets
        // `<field>_semantic_info.chunks.embedding` wrapped nested)
        val sem = src.semantic(field)
        sem.kind match {
          case SemanticSparseKind =>
            graft.ops.Semantic.sparseBestChunkScore(sem.chunks, "doc_id",
              Sparse.encodeQueryTokens(terms))
          case SemanticDenseKind =>
            val qv = graft.ops.Semantic.hashQueryVector(terms, sem.dims)
            sem.ivf match {
              case Some(iv) =>
                // probe-routed: static c_id IN (...) partition pruning on
                // the chunk-vector artifact instead of the exact chunk scan
                graft.ops.Semantic.denseBestChunkScoreIvf(iv.vectors,
                  iv.centroids, qv, sem.dims, sem.ivfProbe, "doc_id")
              case None =>
                graft.ops.Semantic.denseBestChunkScore(sem.chunks, "doc_id", qv)
            }
        }
      case HasChildQ(rel, terms, mode, minC, maxC, boost) =>
        val (child, textCol) = src.children(rel)
        graft.ops.ParentChild.hasChild(child, "parent_id", textCol,
            terms, mode, minC, maxC)
          .select($"parent_id".as("doc_id"), ($"score" * boost).as("score"))
      case ScriptScoreQ(inner, fn, qvLit, boost) =>
        // matched set from the inner query (scores discarded — script_score
        // REPLACES them, so the inner MUST run unbounded: a per-bucket
        // top-k on inner scores could trim a doc whose script score is
        // top-k), one column-pruned join against the vector field, then the
        // space function as a codegen'd projection. Work = inner matched
        // set, never the corpus.
        val matched = scoreClause(src, inner, boundPerBucket = 0).select($"doc_id")
        val e = src.emb.get
        val qv = array(qvLit.map(lit): _*)
        val joined = matched.join(e, "doc_id")
          .select($"doc_id",
            when(size($"vec") === qvLit.length, $"vec")
              .otherwise(raise_error(concat(
                lit(s"script_score query_vector has ${qvLit.length} dims " +
                  "but embedding has "), size($"vec")))).as("vec"))
        val raw = fn match {
          case CosinePlusOne => Ann.cosine($"vec", qv) + lit(1.0)
          case InnerProd     => Ann.dot($"vec", qv)
          case InvL2 =>
            // left-to-right sum of squared diffs (zip_with + aggregate are
            // codegen'd higher-order fns; association matches the oracle)
            val sq = aggregate(
              zip_with($"vec", qv, (a, b) => (a - b) * (a - b)),
              lit(0.0), (acc, x) => acc + x)
            lit(1.0) / (lit(1.0) + sq)
        }
        joined.select($"doc_id", (raw * lit(boost)).as("score"))
      case r @ DenseRadial(qid, _, _) =>
        // range-over-similarity: all docs with cosine >= the radius bound.
        // The threshold is applied at scoring, BEFORE top-depth collection —
        // a radial clause can legitimately match fewer than depth docs
        // (reference: the radial KNNQuery returns every doc in the radius
        // and the collector takes what exists).
        val e = src.emb.get
        val qv = e.where($"doc_id" === qid).select($"vec".as("qv"))
        e.crossJoin(broadcast(qv))
          .select($"doc_id", Ann.cosine($"vec", $"qv").as("score"))
          .where($"score" >= r.minCosine)
      case DenseVector(v, ms, md) =>
        // caller-supplied query vector: a literal array column, no lookup.
        // Dimension-checked per row — zip_with would null-pad a mismatched
        // vector into silently-null scores otherwise.
        val e = src.emb.get
        val qv = array(v.map(lit): _*)
        val scored = e.select($"doc_id",
          when(size($"vec") === v.length, Ann.cosine($"vec", qv))
            .otherwise(raise_error(concat(
              lit(s"knn vector has ${v.length} dims but embedding has "),
              size($"vec")))).as("score"))
        // optional radial bound (min_score on cosine; max_distance = 1-cos)
        (ms, md) match {
          case (Some(b), _) => scored.where($"score" >= b)
          case (_, Some(d)) => scored.where($"score" >= 1.0 - d)
          case _            => scored
        }
    }

  /** [[FunctionScore]] scoring. Scale shape: ONE pass over the inner
   *  query's matched set — field values arrive by a doc_id join against the
   *  stored-fields table (Catalyst prunes it to exactly the referenced
   *  columns), each function filter contributes a left-semi-style matched
   *  flag, and the whole factor expression is a single codegen'd projection.
   *  No window, no per-function re-score of the corpus. */
  private def scoreFunctionScore(src: HybridSources, fs: FunctionScore): DataFrame = {
    require(fs.functions.nonEmpty, "function_score requires at least one function")
    val base = scoreClause(src, fs.inner, boundPerBucket = 0)
    // one join brings in every referenced numeric field, column-pruned
    val fieldsNeeded = fs.functions.collect {
      case f: FieldValueFactorFn => f.field
      case d: DecayFn            => d.field
    }.distinct
    val withFields = if (fieldsNeeded.isEmpty) base else {
      val flds = src.fields.getOrElse(throw new IllegalArgumentException(
        "function_score over field values requires HybridSources.fields"))
      base.join(
        flds.select((col("doc_id") +: fieldsNeeded.map(f =>
          col(f).cast("double").as(s"_fv_$f"))): _*),
        Seq("doc_id"), "left")
    }
    // per-function matched flag (filter present -> its doc set, else true)
    val withFlags = fs.functions.zipWithIndex.foldLeft(withFields) {
      case (df, (fn, i)) => fn.filter match {
        case Some(flt) =>
          val m = scoreClause(src, flt, boundPerBucket = 0)
            .select($"doc_id").distinct().withColumn(s"_m$i", lit(true))
          df.join(m, Seq("doc_id"), "left")
            .withColumn(s"_m$i", coalesce(col(s"_m$i"), lit(false)))
        case None => df.withColumn(s"_m$i", lit(true))
      }
    }
    def raw(fn: ScoreFn): Column = fn match {
      case _: WeightFn => lit(1.0)
      case f: FieldValueFactorFn =>
        val v0 = col(s"_fv_${f.field}")
        val v = f.missing.fold(
          when(v0.isNull, raise_error(lit(
            s"function_score: field [${f.field}] is null and [missing] is unset")))
            .otherwise(v0))(m => coalesce(v0, lit(m))) * f.factor
        f.modifier match {
          case "none"       => v
          case "log"        => log10(v)
          case "log1p"      => log10(v + 1.0)
          case "log2p"      => log10(v + 2.0)
          case "ln"         => log(v)
          case "ln1p"       => log(v + 1.0)
          case "ln2p"       => log(v + 2.0)
          case "sqrt"       => sqrt(v)
          case "square"     => v * v
          case "reciprocal" => lit(1.0) / v
        }
      case d: DecayFn =>
        val dist = greatest(lit(0.0), abs(col(s"_fv_${d.field}") - d.origin) - d.offset)
        d.kind match {
          case "gauss" =>
            val sigma2 = -d.scale * d.scale / (2.0 * math.log(d.decay))
            exp(dist * dist * lit(-1.0 / (2.0 * sigma2)))
          case "exp" => exp(dist * lit(math.log(d.decay) / d.scale))
          case "linear" =>
            val s = d.scale / (1.0 - d.decay)
            greatest(lit(0.0), lit(1.0) - dist / s)
        }
    }
    val matched = fs.functions.indices.map(i => col(s"_m$i"))
    val weighted = fs.functions.map(fn => raw(fn) * fn.weight)
    val anyMatched = matched.reduceLeft(_ || _)
    val combined = fs.scoreMode match {
      case "multiply" =>
        fs.functions.indices.map(i =>
          when(matched(i), weighted(i)).otherwise(1.0)).reduceLeft(_ * _)
      case "sum" =>
        fs.functions.indices.map(i =>
          when(matched(i), weighted(i)).otherwise(0.0)).reduceLeft(_ + _)
      case "max" =>
        fs.functions.indices.map(i =>
          when(matched(i), weighted(i))).reduceLeft((a, b) => greatest(a, b))
      case "min" =>
        fs.functions.indices.map(i =>
          when(matched(i), weighted(i))).reduceLeft((a, b) => least(a, b))
      case "avg" =>
        // weighted average of the raw values, Σwᵢrᵢ / Σwᵢ over matched
        val num = fs.functions.zipWithIndex.map { case (_, i) =>
          when(matched(i), weighted(i)).otherwise(0.0) }.reduceLeft(_ + _)
        val den = fs.functions.zipWithIndex.map { case (fn, i) =>
          when(matched(i), lit(fn.weight)).otherwise(0.0) }.reduceLeft(_ + _)
        num / den
      case "first" =>
        fs.functions.indices.reverse.foldLeft(lit(1.0)) { (acc, i) =>
          when(matched(i), weighted(i)).otherwise(acc)
        }
    }
    // no matching function -> the neutral 1.0 (FiltersFunctionScoreQuery)
    val factor = least(when(anyMatched, combined).otherwise(1.0), lit(fs.maxBoost))
    val score = fs.boostMode match {
      case "multiply" => $"score" * factor
      case "replace"  => factor
      case "sum"      => $"score" + factor
      case "avg"      => ($"score" + factor) / 2.0
      case "max"      => greatest($"score", factor)
      case "min"      => least($"score", factor)
    }
    withFlags.select($"doc_id", score.as("score"))
  }

  /** The collection plan — the shard side of the reference's lifecycle
   *  (search/collector/HybridTopScoreDocCollector.java:135-190): every
   *  `match`-shaped clause ([[batchClause]]: match, synonyms,
   *  `cross_fields`, `combined_fields`) scored in ONE [[Bm25.scoreBatch]]
   *  kernel pass over all their fields, each other clause by its own scorer,
   *  the request filter as one semi-join over the subq-tagged union, then
   *  per partition one [[BoundedTopK]] of `depth` per sub-query, after the
   *  collapse keep of the best n per (sub-query, group) when collapsing
   *  ([[BoundedTopK.kept]], carrying `_grp`). Rows
   *  (subq, doc_id, score[, _grp]): at most nSub x depth x partitions. */
  private[graft] def collection(src: HybridSources, q: HybridQuery,
                                filterDocs: Option[DataFrame]): DataFrame = {
    // The per-bucket bound inside the BM25 scorer is only safe when nothing
    // after scoring can resurrect a below-bound doc (no filter, no collapse).
    val bound = if (filterDocs.isEmpty && q.collapse.isEmpty) q.depth else 0
    val batch = q.subQueries.map(batchClause(src, _))
    def tagged(i: Int, df: DataFrame) = df.select(lit(i).as("subq"),
      $"doc_id".cast("long").as("doc_id"), $"score".cast("double").as("score"))
    // empty placeholders keep each batch clause's index = its sub-query's
    val lexical = if (batch.forall(_.isEmpty)) None else Some(Bm25.scoreBatch(src.idx,
      batch.map(_.getOrElse(Bm25.TermClause(Nil))), bound).toDF("subq", "doc_id", "score"))
    val others = q.subQueries.zipWithIndex.collect {
      case (sq, i) if batch(i).isEmpty && !sq.isInstanceOf[SparseAnn] =>
        tagged(i, scoreClause(src, sq, bound))
    }
    val scored = (lexical.toSeq ++ others).reduceOption(_ unionByName _).map(u =>
      filterDocs.fold(u)(f => u.join(f.select("doc_id"), Seq("doc_id"), "left_semi")))
    // a sparse ANN clause is k-BOUNDED inside its scorer, so the request
    // filter must reach the ANN search (post-filtering a bounded top-k
    // would under-fill it) — exactly the reference's filter-during-search
    // contract
    val anns = q.subQueries.zipWithIndex.collect {
      case (sa: SparseAnn, i) => tagged(i, scoreSparseAnn(src, sa, filterDocs))
    }
    val all = (scored.toSeq ++ anns).reduce(_ unionByName _)
    // collapse: the tagged union joins the collapse column once, and the
    // heaps keep the best n per (sub-query, group) before the best `depth`
    val rows = q.collapse.fold(all.select("subq", "doc_id", "score"))(c =>
      all.join(src.fields.get.select(col("doc_id"), col(c.field).as("_grp")), "doc_id")
        .select("subq", "doc_id", "score", "_grp"))
    BoundedTopK.perPartition(rows, q.depth, q.collapse.fold(0)(_.docsPerGroupPerSubquery))
  }

  /** One combined doc: its per-sub-query normalized scores (0.0 where the
   *  sub-query did not collect it), its combined score, and its collapse
   *  group value (null without collapse). */
  private case class Fused(id: Long, norms: Array[Double], score: Double, grp: Any)

  /** The coordinator (reference: processor/NormalizationProcessorWorkflow
   *  .java:66-124, ScoreCombiner.java:361-395), on the driver over the one
   *  collect of [[collection]]: per sub-query its top `depth` (the
   *  collection rank, after a replay of the collapse keep), min/max, L2
   *  norm and mean/sd; the normalized scores; per-doc alignment with
   *  missing entries as 0.0; and the combination. The math is [[ScoreMath]],
   *  the code the Catalyst normalization expressions' eval and codegen call, and
   *  the statistics replay Spark's aggregates over the rows in collection
   *  rank order: running double sums for avg and for the L2 sum of squares,
   *  `CentralMomentAgg`'s (n, avg, m2) update for stddev_samp (null at
   *  n = 1, read as 0.0); `useFloat` narrows as the expressions cast.
   *  @return the combined docs best first, and whether some sub-query's
   *          collection was truncated at `depth` */
  private def fuse(src: HybridSources, q: HybridQuery,
                   filterDocs: Option[DataFrame]): (Seq[Fused], Boolean) = {
    val bySub = collection(src, q, filterDocs).collect().toSeq.groupBy(_.getInt(0))
    val nSub = q.subQueries.size
    val f = q.useFloat
    val norms = scala.collection.mutable.HashMap.empty[Long, Array[Double]]
    val groups = scala.collection.mutable.HashMap.empty[Long, Any]
    var truncated = false
    for (i <- 0 until nSub) {
      val ranked = BoundedTopK.ranked(bySub.getOrElse(i, Nil), q.depth,
        q.collapse.fold(0)(_.docsPerGroupPerSubquery))
      truncated ||= ranked.size >= q.depth
      var (mn, mx, sum, sumSq, n, cmAvg, m2) = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
      ranked.foreach { r =>
        val x = r.getDouble(2)
        if (n == 0.0 || SQLOrderingUtil.compareDoubles(x, mn) < 0) mn = x
        if (n == 0.0 || SQLOrderingUtil.compareDoubles(x, mx) > 0) mx = x
        sum += x
        sumSq += x * x
        val delta = x - cmAvg
        val deltaN = delta / (n + 1.0)
        cmAvg += deltaN
        m2 += delta * (delta - deltaN)
        n += 1.0
      }
      val mean = sum / n
      val sd = if (n > 1.0) math.sqrt(m2 / (n - 1.0)) else 0.0
      ranked.zipWithIndex.foreach { case (r, rank0) =>
        val x = r.getDouble(2)
        val ns = q.norm match {
          case MinMaxNormTech(lower, upper) =>
            val (lb, ub) = (lower.map(_(i)), upper.map(_(i)))
            val (lbm, lbs) = (ScoreMath.boundMode(lb), lb.fold(0.0)(_.score))
            val (ubm, ubs) = (ScoreMath.boundMode(ub), ub.fold(0.0)(_.score))
            if (f) ScoreMath.minmaxF(x.toFloat, mn.toFloat, mx.toFloat, lbm, lbs, ubm, ubs).toDouble
            else ScoreMath.minmaxD(x, mn, mx, lbm, lbs, ubm, ubs)
          case L2NormTech =>
            val l2 = math.sqrt(sumSq)
            if (f) ScoreMath.l2F(x.toFloat, l2.toFloat).toDouble else ScoreMath.l2D(x, l2)
          case ZScoreNormTech =>
            if (f) ScoreMath.zF(x.toFloat, mean.toFloat, sd.toFloat, mx.toFloat, mn.toFloat).toDouble
            else ScoreMath.zD(x, mean, sd, mx, mn)
          case RrfNormTech(rc) => ScoreMath.rrf(rank0 + 1, rc, f)
        }
        norms.getOrElseUpdate(r.getLong(1), new Array[Double](nSub))(i) = ns
        if (q.collapse.nonEmpty) groups(r.getLong(1)) = r.get(3)
      }
    }
    val tech = Combine.id(q.comb.technique)
    val weights = q.comb.weights.toArray
    val combined = norms.toSeq.map { case (id, ns) =>
      Fused(id, ns, ScoreMath.combine(ns, tech, weights, f), groups.getOrElse(id, null))
    }
    (combined.sortWith((a, b) => BoundedTopK.before(a.score, a.id, b.score, b.id)), truncated)
  }

  /** The final collapse over docs best first: one doc per group, its best.
   *  min_score applies after it, so a group whose best member fails
   *  min_score drops entirely rather than surviving via a lower-ranked
   *  member. */
  private def oncePerGroup(q: HybridQuery, docs: Seq[Fused]): Seq[Fused] =
    if (q.collapse.isEmpty) docs else docs.distinctBy(_.grp)

  private def minScored(q: HybridQuery, docs: Seq[Fused]): Seq[Fused] =
    q.minScore.fold(docs)(ms => docs.filter(d => SQLOrderingUtil.compareDoubles(d.score, ms) >= 0))

  /** Driver-side event counters for one request, using the reference's stat
   *  names (stats/events/EventStatName.java). Called exactly once per
   *  execution path; never inside tasks, so counts are deterministic. */
  private def record(src: HybridSources, q: HybridQuery,
                     filterDocs: Option[DataFrame]): Unit = {
    import graft.stats.EventStats.increment
    increment("hybrid_query_requests")
    if (filterDocs.nonEmpty) increment("hybrid_query_with_filter_requests")
    if (q.from > 0) increment("hybrid_query_with_pagination_requests")
    q.subQueries.foreach {
      case _: Lexical | _: LexicalSyn | _: LexicalPhrase | _: LexicalPhrasePrefix |
           _: LexicalMulti | _: LexicalMsm |
           _: MatchAll | _: BoolSub | _: TermPattern | _: ConstantScore |
           _: DisMax | _: Boosting | _: Fuzzy | _: MoreLikeThisQ |
           _: IdsQ | _: TermsSet | _: TermsSetFieldQ | _: RangeQ |
           _: RegexPattern | _: ExistsQ | _: SpanNearQ | _: SpanNearMaskedQ |
           _: IntervalsQ => ()
      case _: SparseLinear => increment("neural_sparse_query_requests")
      case _: SparseAnn =>
        increment("neural_sparse_query_requests")
        increment("sparse_ann_query_requests")
      case _: DenseCosine | _: DenseVector | _: DenseIvf | _: DenseRadial =>
        increment("neural_query_requests")
        increment("neural_query_against_knn_requests")
      case SemanticText(f, _) =>
        increment("neural_query_requests")
        src.semantic.get(f).map(_.kind) match {
          case Some(SemanticDenseKind) =>
            increment("neural_query_against_semantic_dense_requests")
          case Some(SemanticSparseKind) =>
            increment("neural_query_against_semantic_sparse_requests")
          case None => ()
        }
    }
    q.norm match {
      case _: RrfNormTech => increment("rank_based_normalization_processor_executions")
      case other =>
        increment("normalization_processor_executions")
        other match {
          case _: MinMaxNormTech => increment("norm_minmax_executions")
          case L2NormTech        => increment("norm_l2_executions")
          case ZScoreNormTech    => increment("norm_zscore_executions")
          case _                 => ()
        }
    }
    q.comb.technique match {
      case Combine.Arithmetic => increment("comb_arithmetic_executions")
      case Combine.Geometric  => increment("comb_geometric_executions")
      case Combine.Harmonic   => increment("comb_harmonic_executions")
      case Combine.Rrf        => increment("comb_rrf_executions")
      case _                  => ()
    }
  }

  /** [[fuse]] for one request: the combined docs min_score keeps, best
   *  first, the count before min_score, and the truncation flag. */
  private def full(src: HybridSources, q: HybridQuery,
                   filterDocs: Option[DataFrame]): (Seq[Fused], Int, Boolean) = {
    record(src, q, filterDocs)
    validate(src, q)
    val (fused, truncated) = fuse(src, q, filterDocs)
    val docs = oncePerGroup(q, fused)
    (minScored(q, docs), docs.size, truncated)
  }

  private def page(docs: Seq[Fused], q: HybridQuery): Seq[Fused] = docs.drop(q.from).take(q.k)

  private def scoreRows(src: HybridSources, docs: Seq[Fused]): DataFrame =
    local(src, docs.map(d => Row(d.id, d.score)), "doc_id" -> LongType, "score" -> DoubleType)

  /** A local DataFrame of driver rows — no Spark job to collect it. */
  private def local(src: HybridSources, rows: Seq[Row], cols: (String, DataType)*): DataFrame =
    src.idx.postings.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(cols.map { case (c, t) => StructField(c, t, nullable = c != "doc_id") }))

  // Column shorthand used above
  private def $(name: String): Column = col(name)
  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.parts.mkString)
  }
}
