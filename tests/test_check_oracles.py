"""tools/check_oracles.py's pass rule: where a query's row asserts a
boolean, a matching hash is not a pass unless the boolean is true."""

from __future__ import annotations

import importlib

import pandas as pd


def test_matching_hash_with_false_agreement_fails():
    co = importlib.import_module("tools.check_oracles")
    low = pd.DataFrame({"n_docs": [1000], "agreement_ok": [False]})
    record, problems = co.compare("ppl_bucket_agreement", low, low.copy())
    assert record["hash_match"]
    assert problems and record["err"] == "agreement_ok not true in 1 of 1 rows"

    ok = pd.DataFrame({"n_docs": [1000], "agreement_ok": [True]})
    record, problems = co.compare("ppl_bucket_agreement", ok, ok.copy())
    assert record["hash_match"] and problems == [] and record["err"] is None

    null = pd.DataFrame({"n_docs": [1000], "agreement_ok": [None]})
    assert co.compare("ppl_bucket_agreement", null, null.copy())[1]
    # the rule is keyed by query: other queries pass on the hash alone
    assert co.compare("pricing_summary", low, low.copy())[1] == []
