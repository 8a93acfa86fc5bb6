package graft.perfbench

/** The engine's documented hook for dropping the staged relations the
 * LLM-data pipeline shares between queries, so every benchmark pass
 * pays each staged build once. */
object StagedRelations {
  def clear(): Unit = graft.operators.Ops.stagedClear()
}
