package graft

import org.apache.spark.sql.SparkSession

/** Engine-owned session configuration — the ONE place the confs every
  * graft session needs are applied, so they are a product property
  * rather than a bench-harness one (r14 verdict: the codegen-cache conf
  * lived only in Bench/Verify, which undercut the "not a local[32]
  * artifact" claim). Bench and Verify build through this; an embedder
  * hosting [[graft.api.Server]] should too.
  */
object GraftSession {

  /** Apply the engine's session confs + extensions to a builder.
    *
    *  - `spark.sql.codegen.cache.maxEntries=10000`: the static default
    *    (100 generated-class cache entries) cannot hold a many-plan
    *    workload's codegen units — measured 4769 Janino compilations
    *    inside one 300-query loop vs 501 with the larger cache (r14).
    *    Memory is bounded by distinct plan shapes (metaspace, a few KB
    *    per class); any long-lived JVM serving many plans wants the
    *    cache to hold its working set.
    *  - streaming checkpoint housekeeping (retain 2 batches, 10-minute
    *    maintenance interval): bounds the delta files each commit keeps
    *    alive and keeps the state-store snapshot thread from firing
    *    inside short-lived queries (r12). Results unaffected — both
    *    knobs govern checkpoint housekeeping only.
    *  - [[graft.io.LocalFs.Confs]]: `file:` paths, through both the
    *    `FileSystem` and the FileContext API, use the fork-free local file
    *    system. Without a native-hadoop library the stock one starts a
    *    `chmod` process per `setPermission` and a `readlink` process per
    *    FileContext rename, i.e. for every checkpoint log, state-store
    *    delta, `.crc` sidecar and committed output file. Those processes
    *    were a large share of the stream and snapshot rows' "fixed commit
    *    overhead": 440 per call of `q_stream_agg_period` and 25 per
    *    `q_snapshot_write`, now 0 each; the 23 `q_stream_*` rows at
    *    sf0.01 fell from 45-48 s to 30-33 s. Hadoop caches
    *    `FileSystem` instances JVM-wide by scheme and user, not by conf,
    *    so an embedder must build its session through this method before
    *    its first `file:` access; an instance cached earlier keeps
    *    forking for the life of the JVM.
    *  - [[GraftExtensions]]: registers every graft_* function at session
    *    build (the cluster-deployment path).
    */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config(graft.io.LocalFs.Confs)
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.sql.streaming.minBatchesToRetain", "2")
    .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    .withExtensions(new GraftExtensions)
}
