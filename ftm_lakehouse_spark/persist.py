"""Materialization policy — SCALE.md §8 (round-4 VERDICT item 6).

Two classes:

* **data-sized** (``DATA_SIZED``): a lineage cut whose row count scales
  with the corpus — collapsed texts, shingle/signature tables, edge
  sets, merge cohorts, capstone shared projections. These must never
  be cached as deserialized JVM objects: at scale the deserialized
  form is 2–5× the on-disk size and competes for the same unified
  memory as the shuffles/joins that CONSUME the materialization — the
  sf10 pagerank OOM (round 4), generalized. They are ``DISK_ONLY``:
  a round-6 three-way A/B at sf0.1 (SCALE.md §8) measured DISK_ONLY
  within noise of — mostly faster than — the deserialized default on
  every affected gate (local-disk re-reads are sequential and
  page-cached), while the Java-serializer middle ground
  (``MEMORY_AND_DISK`` serialized) was the slowest of the three
  (UnsafeRow batches pay serializer CPU without saving the copies).
* **bounded** — vocab/k/#partitions/micro-batch-sized tables and
  per-round iterative states: those sites simply call
  ``localCheckpoint()`` with no level (Spark's memory default) and do
  not consult this module.

Iteration-invariant tables that live across MANY consumers/rounds
(pagerank edges, label-propagation edge sets) stay hard-pinned
DISK_ONLY at their call sites — re-read cost amortizes over rounds and
memory pressure there is the measured OOM driver.
"""

from __future__ import annotations

from pyspark import StorageLevel

#: storage level for DATA-SIZED lineage cuts
DATA_SIZED = StorageLevel.DISK_ONLY
