package graft.operators

/** The registry fold's package-private tx-type set, re-exported so the
  * traced re-composition of `OmniPipeline.deriveStamped` applies the
  * same columnar pre-filter the engine does.
  */
object PerfbenchAccess {
  def registryTypes: Set[Int] = PropertyRegistry.LifecycleTypes
}
