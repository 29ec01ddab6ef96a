"""Static perf-discipline audits over the package source (round 8).

VERDICT r7 verified by hand that the package has no row-at-a-time
``F.udf``, no ``toPandas()``, and that all 20 ``.collect()`` sites are
bounded driver-side probes (1-row scalars, k×d centroid tables,
per-partition count maps, CC convergence checks). Hand audits rot; this
test makes the claims structural: an AST walk over every module, with an
explicit allowlist for collect sites. Adding a new ``.collect()`` fails
the suite until the site is listed here with its boundedness argument —
the same empty-allowlist philosophy as the plan audits, applied to the
driver-memory axis.
"""
from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "data_engineering__spark")

# (module-relative path, enclosing function) ->
#     (expected site COUNT, why each collect is bounded).
# The count pins the audit exactly: without it, a NEW .collect() added to
# an already-allowlisted function would pass silently (ADVICE r8).
COLLECT_ALLOWLIST = {
    ("conformance.py", "did_report_events"):
        (1, "1-row scalar probe (pre-period group means)"),
    ("conformance.py", "cuped_report_events"):
        (1, "1-row scalar probe (theta covariance terms)"),
    ("plans/pipeline.py", "ingest_incremental"):
        (1, "1-row scalar probe (max pub_id watermark)"),
    ("operators/analytics.py", "markov_attribution"):
        (1, "|states|^2 transition matrix (event-type vocabulary, not rows)"),
    ("operators/analytics.py", "markov_stationary"):
        (1, "|states|^2 transition matrix (event-type vocabulary, not "
            "rows) — driver power iteration, markov_attribution precedent"),
    ("operators/merge.py", "dim_upsert"):
        (1, "1-row scalar probe (current max surrogate id)"),
    ("operators/vector.py", "_centroid_matrix"):
        (1, "k x d centroid/codebook table (k <= INDEX_CELL_CAP on the "
            "corpus-derived index; trained k and PQ codebooks are chosen, "
            "not corpus-sized) into the Arrow kernels"),
    ("operators/vector.py", "cos_grid_pandas"):
        (1, "anchor-capped query grid (<= EVAL_ANCHOR_CAP rows by the "
            "sample_bounded contract) into the Arrow scoring kernel"),
    ("operators/vector.py", "ivfpq_topk"):
        (1, "the query frame's vectors for the ADC lookup table (one "
            "query by contract; the first row is used)"),
}

# (module-relative path, enclosing function) ->
#     (expected site COUNT, why the frame is stored by hand).
# Every other stored intermediate goes through ``session.materialize`` and
# is freed by ``session.release``; these two are lazy persists, which
# ``materialize`` (always an eager checkpoint) does not replace.
STORE_ALLOWLIST = {
    ("operators/dedup.py", "containment_pairs"):
        (1, "the pair frame shared by the exact and dirty branches: lazy "
            "measured faster than an eager checkpoint's write barrier"),
    ("plans/pipeline.py", "run_pipeline"):
        (1, "the cleaned publications hub on the ETL path, read by every "
            "later stage"),
}
STORE_CALLS = ("localCheckpoint", "persist", "cache", "checkpoint",
               "unpersist")


def _calls(n, attr):
    return (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr)


def _is_column_tokenizer(n):
    """``F.split(F.lower(F.trim(...)), ...)`` — the body of text.tokens()."""
    return (_calls(n, "split") and n.args and _calls(n.args[0], "lower")
            and n.args[0].args and _calls(n.args[0].args[0], "trim"))


def _is_python_tokenizer(n):
    """A no-argument ``str.split()`` or a ``re.compile``/``re.split`` of a
    ``\\s+`` pattern — Python-side whitespace tokenization."""
    if _calls(n, "split") and not n.args and not n.keywords:
        return True
    return ((_calls(n, "compile") or _calls(n, "split"))
            and isinstance(n.func.value, ast.Name) and n.func.value.id == "re"
            and n.args and isinstance(n.args[0], ast.Constant)
            and "\\s+" in str(n.args[0].value))


def _scan():
    hits = []
    for root, _, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack = ["<module>"]

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    fn = n.func
                    if isinstance(fn, ast.Attribute) and fn.attr in (
                            "collect", "toPandas"):
                        hits.append((fn.attr, rel, self.stack[-1], n.lineno))
                    if (isinstance(fn, ast.Attribute) and fn.attr == "udf") \
                            or (isinstance(fn, ast.Name) and fn.id == "udf"):
                        hits.append(("udf", rel, self.stack[-1], n.lineno))
                    if (isinstance(fn, ast.Attribute) and fn.attr in STORE_CALLS
                            and rel != "session.py"):
                        hits.append(("store", rel, self.stack[-1], n.lineno))
                    if _is_column_tokenizer(n):
                        hits.append(("tok_col", rel, self.stack[-1], n.lineno))
                    if _is_python_tokenizer(n):
                        hits.append(("tok_py", rel, self.stack[-1], n.lineno))
                    self.generic_visit(n)

            V().visit(tree)
    return hits


def test_no_topandas_no_row_udf_and_all_collects_allowlisted():
    hits = _scan()
    assert [h for h in hits if h[0] == "toPandas"] == []
    assert [h for h in hits if h[0] == "udf"] == []
    unlisted = [h for h in hits if h[0] == "collect"
                and (h[1], h[2]) not in COLLECT_ALLOWLIST]
    assert unlisted == [], (
        "new .collect() site(s) — add to COLLECT_ALLOWLIST with a "
        f"boundedness argument: {unlisted}")
    # exact per-function site counts: a new collect inside an already
    # allowlisted function must fail too, not ride the existing entry
    from collections import Counter
    live = Counter((h[1], h[2]) for h in hits if h[0] == "collect")
    wrong = {k: (live.get(k, 0), n) for k, (n, _why) in
             COLLECT_ALLOWLIST.items() if live.get(k, 0) != n}
    assert wrong == {}, (
        "collect-site count drifted (live, allowlisted) — re-audit the "
        f"function's boundedness and update the count: {wrong}")


def test_collect_allowlist_carries_no_dead_entries():
    """An allowlist entry whose site no longer exists is audit rot in the
    other direction — prune it so the list stays exactly the live sites."""
    live = {(h[1], h[2]) for h in _scan() if h[0] == "collect"}
    dead = [k for k in COLLECT_ALLOWLIST if k not in live]
    assert dead == [], f"prune dead allowlist entries: {dead}"


def test_one_tokenizer_column_and_python():
    """``text.tokens()`` is the one Column tokenizer and ``text.py_tokens``
    its one Python mirror, which every Arrow kernel calls. Re-inlined
    copies drift: the Python ones split on U+00A0 and read a NULL text as
    the token "none", where ``tokens()`` and the DuckDB oracles do not."""
    hits = _scan()
    col = [(h[1], h[2]) for h in hits if h[0] == "tok_col"]
    py = [(h[1], h[2]) for h in hits if h[0] == "tok_py"]
    assert col == [("operators/text.py", "tokens")], col
    assert py == [("operators/text.py", "py_tokens")], py


def test_one_materialization_policy():
    """``session.materialize``/``release`` own every stored intermediate:
    outside ``session.py`` no code checkpoints, persists, caches or
    unpersists by hand, except the allowlisted lazy persists, pinned by
    count. A hand-rolled ``localCheckpoint`` is never freed
    (``unpersist`` is a no-op on it), and a probe job after it is a
    scalar ``materialize`` observes in the same job."""
    from collections import Counter
    live = Counter((h[1], h[2]) for h in _scan() if h[0] == "store")
    want = {k: n for k, (n, _why) in STORE_ALLOWLIST.items()}
    assert dict(live) == want, (
        "stored-intermediate sites drifted (live vs allowlist) — route the "
        f"site through session.materialize/release: {dict(live)}")
