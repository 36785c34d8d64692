"""Record-window contract for __spark_entry__.

queries() exposes AT MOST 50 entries, the number recorded per run. The
window is the fixed list ``_WINDOW`` of oracle-checked ops, in record
order.
Every other ``OPS`` entry must be reached by a job, serve as a job
test's reference implementation, or be one of the listed ops still held
for their own unit tests; nothing else belongs in ``OPS``. Likewise every
function of ``__spark_entry__.py`` is part of the contract, called by it,
or run by a test.
"""
import glob
import os
import re
import types

import __spark_entry__ as E
from trek_spark.spark import ops as O
from trek_spark.spark.ops import OPS

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ops the job tests use as reference implementations (not named by a job)
_JOB_REFERENCE_OPS = {"dedup_keep_best_quality", "dedup_clusters",
                      "train_export_manifest", "sft_export_manifest"}

# ops no job or window op reaches, kept for now with their unit tests;
# the next ops.py cut deletes them together with those tests
_UNIT_TESTED_OPS = {
    "customer_value_deciles", "customer_value_deciles_approx",
    "dedup_hot_shingle_audit", "dedup_lsh_dropped_buckets",
    "dedup_minhash_estimate", "embedding_near_dup",
    "events_chi2_independence", "events_ks_drift", "events_rank_sum",
    "events_rolling_median", "events_sessionize", "stratified_sample",
    "terms_kn_bigram_probs", "tpch_customer_distribution",
    "tpch_disjunctive_join", "tpch_forecast_revenue",
    "tpch_large_orders", "tpch_order_priority_check",
    "tpch_sole_failure_suppliers", "tpch_top_supplier",
    "transcript_cross_conv_echo",
}


def test_queries_fit_driver_record_cap():
    q = E.queries()
    assert len(q) <= E._DRIVER_RECORD_CAP


def test_window_is_the_50_oldest_parked_ops_in_order():
    names = list(E.queries())
    assert names == E._WINDOW
    assert len(names) == E._DRIVER_RECORD_CAP
    assert names[0] == "pii_redact"  # job-wired gates lead


def test_window_ops_all_registered_with_oracles():
    o = E.oracle_sql()
    for name in E.queries():
        assert name in OPS and OPS[name][1] is not None
        assert name in o


def test_oracle_keys_subset_of_queries():
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    for name in q:
        if name in OPS and OPS[name][1] is not None:
            assert name in o
        else:
            assert name not in o


def _global_names(code):
    """Global names a function's code object (and its nested code) loads."""
    out = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            out |= _global_names(c)
    return out


def _other_tests_src():
    """Source of every tests/test_*.py file except this one."""
    here = os.path.abspath(__file__)
    return "".join(open(p).read()
                   for p in glob.glob(f"{_REPO}/tests/test_*.py")
                   if os.path.abspath(p) != here)


def _reached_functions():
    """ops.py functions reached from a name jobs/*.py uses
    (``O.<name>``), a window op or a job-test reference op, following
    the ops.py functions those call."""
    jobs_src = "".join(open(p).read()
                       for p in glob.glob(f"{_REPO}/jobs/*.py"))
    todo = set(re.findall(r"\bO\.([A-Za-z_]\w*)", jobs_src))
    todo |= {OPS[name][0].__name__
             for name in set(E.queries()) | _JOB_REFERENCE_OPS}
    reached = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        code = getattr(getattr(O, name, None), "__code__", None)
        if code is not None:
            todo |= _global_names(code) - reached
    return reached


def test_every_op_is_reached():
    """Each OPS entry is in the queries() window, is a job test's
    reference implementation, has its function reached from a job, a
    window op or a reference op, or is held for its unit tests."""
    window = set(E.queries())
    reached = _reached_functions()
    unreached = [name for name, (fn, _sql) in OPS.items()
                 if name not in window and fn.__name__ not in reached
                 and name not in _JOB_REFERENCE_OPS | _UNIT_TESTED_OPS]
    assert unreached == []


def test_unit_tested_ops_are_unreached_and_tested():
    """Each op held over for its unit tests is still registered, is not
    reached by a job or the window (else it needs no listing),
    and is named by a test outside this file."""
    tests_src = _other_tests_src()
    window = set(E.queries())
    reached = _reached_functions()
    for name in _UNIT_TESTED_OPS:
        assert name in OPS, name
        assert name not in window | _JOB_REFERENCE_OPS, name
        fn = OPS[name][0].__name__
        assert fn not in reached, name
        assert name in tests_src or fn in tests_src, name


def test_every_entry_function_is_reached():
    """Each top-level function of __spark_entry__.py is entry, queries
    or oracle_sql, is called by one of them, or is named by a test
    outside this file."""
    tests_src = _other_tests_src()
    funcs = {name for name, fn in vars(E).items()
             if isinstance(fn, types.FunctionType)
             and fn.__module__ == E.__name__}
    todo = {"entry", "queries", "oracle_sql"}
    reached = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= (_global_names(getattr(E, name).__code__) & funcs) - reached
    unreached = sorted(name for name in funcs - reached
                       if not re.search(rf"\b{name}\b", tests_src))
    assert unreached == []
