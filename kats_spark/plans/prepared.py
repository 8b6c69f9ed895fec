"""Prepared-statement memo for PURE-PLAN query functions.

A declared query's DataFrame is an immutable logical plan; building it
costs real driver time — py4j Column construction plus Spark's EAGER
Catalyst analysis at every ``select``/``withColumns`` (a 36-lag ACF
detector's tree analyzes in ~1.5 s — measured r07).  A production
engine parses and plans a query shape ONCE (prepared statements); this
memo gives the declared queries the same contract: per (SparkContext,
sf_dir, function), the constructed DataFrame is kept as a ``"prepared"``
entry of ``kats_spark.reuse``.

STRICT eligibility — a function may be decorated ONLY if its body:
- runs NO driver-side actions (no collect/count/toPandas — iterative
  models, GP loops and k-means builds are ineligible: their call does
  real work whose repetition the bench must measure).  ONE carve-out
  (r14): a stored-index query whose only action is the idempotent
  once-per-session register-or-rebuild gate
  (pipeline_queries._ensure_stored_index) IS eligible — the gate fires
  on the first construction only, the catalog registration it creates
  survives ``clearCache()`` (tables are not cached plans), and every
  later construction is pure plan work; a memo hit therefore returns
  exactly what a fresh construction would build.  Per-request driver
  work (e.g. the probed-cell collect in bitext_mine_stored /
  ivf_stored_topk) remains INELIGIBLE: that collect is real serving
  cost paid per query batch, and the bench must keep measuring it;
- creates NO materialization boundary (localCheckpoint/checkpoint) —
  a lazily-checkpointed frame would silently carry MATERIALIZED data
  across an external ``clearCache()`` and turn a repeat measurement
  into a cache read.  Plain ``persist()`` boundaries ARE allowed when
  the operator registers them via ``kats_spark.reuse.register``:
  the memo re-registers them (``persist()`` — registration only, the
  dropped blocks recompute fresh) on every hit, so an external
  ``clearCache()`` neither silently removes the boundary nor leaks
  materialized data into the next measurement.  The shared cached
  series (queries.hourly_series / daily_series) register the same way,
  so after a hit, reuse of them within and across queries is identical
  to a fresh build.  (Queries with their own cached stage sets keep
  them as a separate reuse entry — see pipeline_queries._corpus_stages.)
- is deterministic in (spark, sf_dir).
"""

from __future__ import annotations

import functools

from kats_spark import reuse


def prepared():
    """Decorator: memoize a pure-plan (spark, sf_dir) -> DataFrame query."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, sf_dir):
            params = (sf_dir, fn.__module__, fn.__qualname__)
            out = reuse.get("prepared", params)
            if out is not None:
                return out
            with reuse.capture() as held:
                out = fn(spark, sf_dir)
            return reuse.put("prepared", params, out, held)

        wrapper.__wrapped_query__ = fn  # tests compare fresh vs memoized
        return wrapper

    return deco
