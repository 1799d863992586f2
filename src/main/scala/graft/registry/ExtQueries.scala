package graft.registry

/** The LLM-data-pipeline extension surface: dedup, similarity search,
  * text analysis, multimodal plumbing, event-time windowing. Oracle SQL
  * is provided wherever DuckDB can express the operator with provably
  * identical arithmetic (probed: in-order float folds, `md5`, and
  * integer hex parsing are bit-identical across engines). The hash-
  * based candidate generators (minhash banding, simhash, hyperplane
  * LSH) use engine-portable md5-derived hashes precisely so their
  * full output is oracle-checkable — only the internal bucket keys
  * stay engine-specific (bucket-key equality is tuple equality either
  * way).
  */
object ExtQueries {

  type Q = QueryShared.Q

  val queries: Map[String, Q] =
    ExtQueriesText.queries ++
    ExtQueriesDedup.queries ++
    ExtQueriesSampling.queries ++
    ExtQueriesCorpus.queries ++
    ExtQueriesSimilarity.queries ++
    ExtQueriesAnalytics.queries

  val oracleSql: Map[String, String] =
    ExtQueriesText.oracleSql ++
    ExtQueriesDedup.oracleSql ++
    ExtQueriesSampling.oracleSql ++
    ExtQueriesCorpus.oracleSql ++
    ExtQueriesSimilarity.oracleSql ++
    ExtQueriesAnalytics.oracleSql
}
