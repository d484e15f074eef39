"""Benchmark of the paper's product: the whole-database copy ``DbCopier.run``
(plan, subset through the FK graph, anonymize, write a whole schema).

Entry point: ``python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0|1`` (see ``harness.py``). Self-tests: ``python -m pytest
perfbench/tests``.

Workloads (inputs generated from the seed by ``datagen.py``):

* ``subset_chain_parquet`` — Parquet to Parquet over region -> nation ->
  customer -> orders -> lineitem: 150k customers carrying a self-ref
  ``c_referrer`` forest (one shuffled 8-ary heap per region, depth 5),
  150k orders, 300k lineitems. The seed picks 2 of the 5 regions; about
  58k customers pass, above the 50k driver threshold of
  ``propagation.self_ref_closure``, so the distributed closure fixpoint
  runs. Most of a pass is propagation and the ancestor re-scans
  (``apply_subsetting`` hands each child its parent's whole lazy plan);
  anonymization is light (three string columns).
* ``pg_upsert_copy`` — the FIXTURES.md schema (users, orders, categories
  with self-ref + owner FK, diamond order_items, dual self-ref employees,
  composite self-ref tree_nodes, JSONB profiles) at 2k users / 15k rows
  in a Postgres 15 server the benchmark starts itself. Filter on users;
  reads through ``spark.read.format("pgwire")`` pinned to a
  ``SnapshotCoordinator`` snapshot with 2 range partitions; writes
  through ``write_jdbc`` ON CONFLICT DO UPDATE into a target pre-seeded
  with stale copies of about half the expected rows. The only workload
  with real source queries, per-row network writes, a driver-side BFS
  closure, constraint deferral and sequence reset.

End-to-end metrics (``--trace 0``): ``pass_s`` (median timed pass, writes
included; at the configured ``run_seconds`` one pass, the first after the
warm-up pass, so every run times the same point of the JIT warm-up), ``rows_per_s`` (source rows in scope / ``pass_s``), ``setup_s``,
``peak_rss_mb`` (VmHWM of the JVM plus the Python driver), ``source_scans``
(Parquet: scan nodes over source files in the SQL status store; Postgres:
``seq_scan + idx_scan`` delta) and ``out_bytes_per_row`` (Parquet: output
file bytes; Postgres: WAL bytes written, per output row).

Per-layer metrics (``--trace 1``), the end-to-end metric each should move,
and where:

* session: ``session.start_s``, ``setup.cold_pass_s`` -> ``setup_s``, both.
* sources.parquet: ``source.rows_read``, ``source.scan_ms`` ->
  ``source_scans``, ``pass_s`` on subset_chain_parquet.
* sources.pyds / sources.pgwire: ``pg.source_scans``,
  ``pg.source_rows_read``, ``source.read_s`` -> ``source_scans``,
  ``pass_s`` on pg_upsert_copy.
* plans.propagation: ``propagation.s``, ``propagation.jobs``,
  ``closure.s``, ``closure.jobs`` -> ``pass_s`` on both (distributed
  fixpoint on subset_chain_parquet, driver BFS on pg_upsert_copy).
* plans.db_copier / coverage / table_sorter: ``copier.plan_s``,
  ``copier.jobs``, ``copier.sql_executions``, ``copier.idle_s`` ->
  ``pass_s``, both.
* plans.compiler / functions.anonymizers: ``compiler.apply_spec_s``,
  ``exec.plan_ms`` -> ``pass_s``, both.
* executor: ``exec.run_s``, ``exec.cpu_s``, ``exec.gc_s``, ``exec.tasks``,
  ``exec.shuffle_write_bytes``, ``exec.spill_bytes`` -> ``pass_s``,
  ``peak_rss_mb``, both.
* Parquet sink: ``sink.write_s``, ``sink.count_s`` (the writer's re-read
  count), ``sink.rows``, ``sink.bytes``, ``sink.files``, ``sink.rereads``
  -> ``pass_s``, ``out_bytes_per_row`` on subset_chain_parquet.
* sources.jdbc sink: ``sink.write_s``, ``pg.statements``, ``pg.xacts``,
  ``pg.rows_inserted``, ``pg.rows_updated``, ``pg.statements_per_row``
  (waste ratio, rows written as its base) -> ``pass_s``, ``rows_per_s``
  on pg_upsert_copy.
* ``trace.overhead_s`` (traced minus untraced ``pass_s``) and
  ``failed_pass_ratio``.
"""
