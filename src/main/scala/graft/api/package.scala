package graft

/** The corpus-agnostic operator library: every function is
  * `DataFrame → DataFrame`, takes id/text/vector column names as
  * parameters, and assumes nothing about where the corpus came from.
  * The `graft.queries` fixture queries are the oracle-checked
  * instantiations of these operators.
  *
  * ==Materialized results==
  * Operators whose plan references an intermediate more than once
  * (shingle sets, norms, posting tables, the edge list — the pair,
  * containment and ANN operators, `keepOne`, the graph loops, the
  * suppress-and-index family and its explain twins) materialize at
  * call time and return a MATERIALIZED result frame. [[PlanAudit]]
  * enforces the contract: such an operator pins through a
  * `PlanAudit.scope`, which releases every pin when the operator
  * returns or throws, except the result it returns; loops release
  * superseded iterates as they go. Consume the result, then call
  * `Dedup.releaseMaterialized` (idempotent, no-op on non-checkpointed
  * frames) — a session that skips it accumulates result-sized blocks
  * per call, never corpus-sized ones. The ingest commit path pins
  * through a scope too, so a commit leaves nothing pinned. Two
  * operators return a LAZY frame that reads its own pin, freed when
  * the frame is garbage-collected: `Dedup.triangleStats` and
  * `Similarity.semanticDedup`/`semanticDedupWithIndex`. `graft.Verify`
  * and `graft.Bench` clear everything between queries via
  * `clearCache` + `getPersistentRDDs` unpersist.
  */
package object api
