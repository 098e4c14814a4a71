package graft.operators

/** The DuckDB mirrors of the stages several modules share, written once.
  * An oracle string that mirrors one of these stages interpolates the
  * fragment instead of spelling the SQL out again, so two copies of one
  * stage cannot drift apart. A fragment only one module uses lives in
  * that module, next to [[VectorOps.ivfCodebookSqlGen]].
  *
  * CTE fragments start at the CTE name and end at its closing paren, laid
  * out for the usual oracle indentation (CTE heads at column 6), so the
  * caller writes `WITH ${OracleSql.embeddings()}, sims AS (…`. Every
  * fragment is a `def` or a `val` declared above its first user here: a
  * `val` read before its initialiser has run is null, and the SQL would
  * carry the text `null` (OutputContractSpec guards against it).
  */
private[graft] object OracleSql {

  /** `tok(doc_id, pos, tok)`: the lower-cased words of `docs(doc_id,
    * text)` split on single spaces, the DuckDB twin of
    * [[TextOps.cachedTokens]].
    */
  def tokens(docs: String = "documents"): String = s"""tok AS (
        -- positions are renumbered AFTER dropping empty tokens so the
        -- pos+1 adjacency joins below match Spark's lead-over-filtered
        -- semantics even on texts with consecutive spaces
        SELECT doc_id,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS pos,
          tok
        FROM (
          SELECT doc_id,
            UNNEST(string_split(lower(text), ' ')) AS tok,
            UNNEST(range(len(string_split(lower(text), ' ')))) AS pos
          FROM $docs) WHERE tok <> ''
      )"""

  /** The word 3-gram `shingle` starting at each `tok` position; `head` is
    * what the SELECT lists before it (`DISTINCT a.doc_id`, say).
    */
  def trigrams(head: String): String =
    s"""SELECT $head, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
        FROM tok a
        JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2"""

  /** [[tokens]] plus `sh(doc_id, shingle)`, each document's distinct word
    * 3-grams: the twin of [[TextOps.cachedShingles]].
    */
  def shingles(docs: String = "documents"): String = s"""${tokens(docs)}, sh AS (
        ${trigrams("DISTINCT a.doc_id")}
      )"""

  /** The micro-batch (0..7) a row lands in, from the first 16 bits of the
    * md5 of `key`: the batch split the streaming and registry rows replay.
    */
  def batchKey(key: String): String =
    s"CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 4) AS INTEGER) % 8"

  /** `b(doc_id, batch)`: each document's [[batchKey]], the twin of
    * [[ShingleRegistry.batchOf]].
    */
  val docBatches: String = s"""b AS (
        SELECT doc_id,
          ${batchKey("doc_id")} AS batch
        FROM documents
      )"""

  /** `e(vec_id, label, emb, nrm)`: the twin of [[VectorOps.withNorm]];
    * `cols` are the embeddings columns kept as they are.
    */
  def embeddings(cols: String = "vec_id, label"): String = s"""e AS (
        SELECT $cols, CAST(embedding AS DOUBLE[]) AS emb,
          SQRT(list_inner_product(CAST(embedding AS DOUBLE[]),
                                  CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
      )"""

  /** `csim`: the 6-dp cosine of an `e` row to the centroid of cell
    * relation `c` (columns `cvec`, `cnrm`).
    */
  def cellCosine(c: String = "c"): String =
    s"ROUND(list_inner_product(e.emb, $c.cvec) / (e.nrm * $c.cnrm), 6) AS csim"

  /** `cr`: each vector's cells ranked by [[cellCosine]], ties to the lower
    * cell id (NearestCentroid's order); `cr = 1` is the assigned cell and
    * `cr <= nprobe` the probed ones.
    */
  val cellRank: String =
    "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell) AS cr"

  /** `sims(vec_id, emb, nrm, cell, csim)`: every `e` row against every
    * cell of the `centn` codebook ([[VectorOps.ivfCodebookSqlGen]]);
    * `cols` are the `e` columns kept.
    */
  def cellSims(cols: String = "e.vec_id, e.emb, e.nrm"): String = s"""sims AS (
        SELECT $cols, c.cell,
          ${cellCosine()}
        FROM e CROSS JOIN centn c
      )"""

  /** `assigned(cols)`: each vector's nearest cell (`cr = 1`) from `sims`,
    * the twin of `VectorOps.withNearestCells(…, 1, …)`.
    */
  def assignedCells(cols: String): String = s"""assigned AS (
        SELECT $cols FROM (
          SELECT $cols,
            $cellRank
          FROM sims)
        WHERE cr = 1
      )"""

  /** One lineitem row's net price, `price × (1 − discount)`, exact at
    * DECIMAL(18,2) per factor as the Spark side's `dec` casts compute it.
    */
  val netPrice: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))"

  /** The revenue sum TPC-H's Q3/Q5/Q10 family reports: Σ [[netPrice]]. */
  val revenue: String = s"SUM($netPrice)"
}
