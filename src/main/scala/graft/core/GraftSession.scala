package graft.core

import org.apache.spark.sql.SparkSession

/** THE engine configuration, shared by every driver-facing entrypoint.
  *
  * Verify (the correctness gate) and Bench (the performance record) must
  * run the SAME planner/runtime configuration — the round-11 RocksDB
  * adoption stated the principle ("the correctness gate must run what the
  * bench runs") and round 12's calibrated broadcast bounds briefly violated
  * it (Bench set them, Verify defaulted to 10 MB: semantics-preserving but
  * a join-strategy divergence the gate never exercised). This object is the
  * single source of truth; entrypoints add only their genuinely-local knobs
  * (Bench's EXTRA_CONF passthrough, Verify's assertPlans).
  */
object GraftSession {

  /** Compile each generated class once per JVM. Spark caches compiled
    * whole-stage and expression classes keyed by (class loader, source).
    *   - `maxEntries`: the default 100 is below the working set, so a
    *     steady-state pass evicted and recompiled the same classes (291
    *     compiles, ~2 s of Janino per pass of the perfbench query_hot
    *     entries). Measured working set: 2,409 distinct classes in one
    *     Verify pass over the 215 entries at sf0.01 (3,587 compiles under
    *     the default), so 4096 leaves 1.7x headroom. Holding them cost
    *     +14 MiB metaspace and +2 MiB class space at the end of that pass
    *     (226 + 29 vs 212 + 27 MiB); peak RSS did not rise (3,380 vs
    *     3,699 MiB VmHWM, one run each). perfbench query_hot wall_s:
    *     8.23 vs 10.84 s (median of 10 alternating pairs, 4 cores).
    *   - `artifact.isolation`: on, every availableNow streaming query runs
    *     under a fresh per-session artifact class loader, so its identical
    *     classes missed the cache on every run. Off is safe: nothing here
    *     adds session artifacts (no `addArtifact`, no Spark Connect).
    * The cache is JVM-wide and sized once, when the JVM first generates
    * code, from the session configuration active then: a session built
    * after that point cannot resize it. The test session
    * (`graft.SparkSpec.session`) applies this same map. */
  val CodegenReuse: Map[String, Any] = Map(
    "spark.sql.codegen.cache.maxEntries" -> 4096,
    "spark.sql.artifact.isolation.enabled" -> false)

  /** Common builder: `local[cpus]`, `shufflePartitions`, and the adopted
    * engine configs with their rationale. Callers may append further
    * `.config(...)` calls (appended keys win on conflict). */
  def builder(cpus: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config(CodegenReuse)
      // Runtime bloom-filter joins: Spark enables the optimizer rule by
      // default but its 10 MB creation-side cap excludes every TPC-H-sized
      // dimension; these thresholds let a ≤512 MB filtered build side
      // prune a ≥1 GB probe scan BEFORE the shuffle. Inert at the driver's
      // sf0.1 (all scans < 1 GB); measured at sf100: q5 268 s → 139 s
      // (SCALING.md round-11). Semantics-preserving.
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1GB")
      // RocksDB state store: incremental per-batch state updates instead
      // of the HDFS store's full in-memory map copy per version. Parity at
      // sf0.1 (25.6 s vs 26.1 s streaming subtotal); 5× on the stateful
      // entries at sf100 (events_stateful_stream 161 → 30 s,
      // events_ohlc_stream 87 → 16 s — SCALING.md round-11).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Broadcast decisions bounded by SIZE instead of forced hints:
      // round 12 removed the explicit broadcast() hints from every
      // sf-proportional dimension build (a hint pins the build in executor
      // memory at ANY scale and disables the demote-to-SMJ escape — the
      // fourth-decade OOM). The default 10 MB caps would instead demote
      // the measured-24-200 MB sf100 builds that were benched green. The
      // STATIC threshold must rise TOO, not just AQE's: a leaf-level
      // static SMJ schedules BOTH children's shuffle map phases together,
      // so the fact side has already written its exchange by the time AQE
      // sees the small runtime build and converts — measured on
      // q9_nation_profit at sf100: 16.9 s (hinted) vs 187.7 s (AQE-only)
      // vs 14.1 s (both thresholds). The bounds are ASYMMETRIC on
      // principle: the static planner decides from pre-filter,
      // column-pruned FILE-byte estimates that understate in-memory build
      // size 3-5×, so it gets the tight 64 MB bound (big enough for every
      // sf100 dim estimate, ≤45 MB; small enough to exclude middle-scale
      // fact projections); AQE decides from measured exchange bytes and
      // gets the looser 256 MB. Both demote automatically when a build
      // outgrows them — the growth-safe property a hint cannot have.
      // Inert at the driver's sf0.1 (every dim estimate is < 10 MB).
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256MB")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as ns-long (converted
      // to µs in graft.queries.Util.eventsWithTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // per-process managed-table warehouse: concurrent sibling JVMs must
      // never share (or sweep) each other's tables — see EphemeralWarehouse
      .config("spark.sql.warehouse.dir", EphemeralWarehouse.dir)
}
