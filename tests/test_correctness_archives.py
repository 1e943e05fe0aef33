"""Lints over the driver's committed CORRECTNESS_r*.json archives.

VERDICT r12 "What's wrong" item 2: q_subquery_scalar hash-matched on
0 rows from r03 to r12 — an empty-vs-empty comparison certifies
nothing. tools/diffcheck.py now fails VACUOUS matches at run time;
this test makes the same invariant hold over every archive the driver
writes from r13 on (earlier archives predate the fix and keep their
historical rows).
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: first round the vacuous-certification lint applies to (the round
#: that shipped the de-vacuated q_subquery_scalar and this lint)
LINT_FROM_ROUND = 13

def _diffcheck_vacuous_ok() -> frozenset:
    """The single source of truth for the empty-result allowlist is
    tools/diffcheck.VACUOUS_OK — load tools/diffcheck.py by path with
    importlib (tools/ is not a package) so the run-time lint and this
    archive lint cannot drift."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "diffcheck", os.path.join(REPO, "tools", "diffcheck.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.VACUOUS_OK


VACUOUS_OK: frozenset = _diffcheck_vacuous_ok()


def _archives() -> dict[int, dict]:
    out = {}
    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", f)
        if not m:
            continue
        with open(f) as fh:
            out[int(m.group(1))] = json.load(fh)
    return out


def test_no_vacuous_certification_from_r13():
    """Every oracled key graded in r13+ must certify on >= 1 row."""
    import __spark_entry__ as e

    oracles = set(e.oracle_sql())
    bad = []
    for rnd, rows in _archives().items():
        if rnd < LINT_FROM_ROUND:
            continue
        for key, rec in rows.items():
            if not isinstance(rec, dict) or key in VACUOUS_OK:
                continue
            if key not in oracles:
                continue  # rows-only keys have no oracle to vacuate
            if rec.get("hash_match") and rec.get("spark_rows") == 0:
                bad.append((rnd, key))
    assert not bad, (
        "vacuous certifications (hash-matched on 0 rows): "
        f"{bad} — widen the query's predicate so the gate exercises "
        "values, or add a documented VACUOUS_OK entry"
    )


def test_archives_record_no_failures():
    """The driver only ships green rounds; an r13+ archive row with a
    real error (err other than the rows-only "no_oracle" marker) or
    ANY failed match dimension — rows, schema, or value hash (the
    round-4 failure mode was hash_match=false with rows green) —
    means the round-close process broke; surface it here instead of
    in the judge's reading. Pre-r13 rows keep their history (e.g.
    the r01 q_agg_collect harness error, fixed that same round)."""
    bad = []
    for rnd, rows in _archives().items():
        if rnd < LINT_FROM_ROUND:
            continue
        for key, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            err = rec.get("err")
            if err and err != "no_oracle":
                bad.append((rnd, key, err))
            elif not err:
                for dim in ("rows_match", "schema_match", "hash_match"):
                    if rec.get(dim) is False:
                        bad.append((rnd, key, f"{dim}=false"))
    assert not bad, f"archived failures: {bad}"
