"""Self-test of the benchmark's output checks: a corrupted result (a dropped
row, a perturbed value) must fail its check and raise the run's error rate.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402

N_POLYS, NTIME, K, N_CENTERS = 5, 3, 4, 6


def _agg(ntime=NTIME):
    p, t = np.meshgrid(np.arange(N_POLYS), np.arange(ntime), indexing="ij")
    return pd.DataFrame({"poly_idx": p.ravel(), "name": "x", "var": "test",
                         "t": t.ravel(),
                         "value": 1.0 + (p.ravel() * 7 + t.ravel()) % 90})


def _knn():
    q, r = np.meshgrid(np.arange(N_CENTERS), np.arange(1, K + 1),
                       indexing="ij")
    return pd.DataFrame({"q_id": q.ravel(), "rank": r.ravel(),
                         "pix_idx": q.ravel() * 100 + r.ravel(),
                         "dist2": r.ravel() * 10.0})


def _ov_stats():
    return pd.DataFrame({"poly_idx": np.arange(N_POLYS), "n": 10,
                         "rel_sum": 1.0})


def _manifest(total):
    return {"lineage": {"total_rows": total}}


def _drop_row(df):
    return df.drop(index=df.index[len(df) // 2]).reset_index(drop=True)


def _perturb(df, col, delta):
    out = df.copy()
    out.loc[len(out) // 2, col] = out.loc[len(out) // 2, col] + delta
    return out


def _error_rate(results, check):
    ledger = checks.Ledger()
    for i, res in enumerate(results):
        ledger.record(f"r{i}", lambda res=res: check(res))
    return ledger.error_rate


def test_reuse_check_passes_clean_and_fails_corrupted():
    ref = checks.value_checksum(_agg())

    def check(agg):
        return checks.check_reuse(agg, N_POLYS, NTIME, 1.0, 97.0, ref)

    assert _error_rate([_agg(), _agg().sample(frac=1, random_state=0)],
                       check) == 0.0
    assert _error_rate([_agg(), _drop_row(_agg())], check) == 0.5
    assert _error_rate([_agg(), _perturb(_agg(), "value", 1e-6)], check) == 0.5
    assert _error_rate([_perturb(_agg(), "value", np.nan)], check) == 1.0


def test_build_check_passes_clean_and_fails_corrupted():
    total = 10 * N_POLYS

    def check(case):
        ov, agg = case
        return checks.check_build(_manifest(total), total, ov, agg, N_POLYS,
                                  1.0, 97.0)

    clean = (_ov_stats(), _agg(1))
    assert _error_rate([clean], check) == 0.0
    assert _error_rate([clean, (_ov_stats(), _drop_row(_agg(1)))],
                       check) == 0.5
    assert _error_rate([(_perturb(_ov_stats(), "rel_sum", 1e-6), _agg(1))],
                       check) == 1.0
    assert _error_rate([(_perturb(_ov_stats(), "n", -1), _agg(1))],
                       check) == 1.0
    assert _error_rate([(_ov_stats(), _perturb(_agg(1), "value", 200.0))],
                       check) == 1.0


def test_knn_check_passes_clean_and_fails_corrupted():
    ref = checks.knn_checksum(_knn())

    def check(res):
        return checks.check_knn(res, N_CENTERS, K, ref)

    assert _error_rate([_knn(), _knn().sample(frac=1, random_state=1)],
                       check) == 0.0
    assert _error_rate([_knn(), _drop_row(_knn())], check) == 0.5
    assert _error_rate([_perturb(_knn(), "pix_idx", 1)], check) == 1.0
    assert _error_rate([_perturb(_knn(), "rank", 1)], check) == 1.0


def test_a_raising_check_counts_as_failed_and_does_not_abort():
    def check(_):
        raise RuntimeError("rep raised")

    ledger = checks.Ledger()
    assert not ledger.record("r0", lambda: check(None))
    assert ledger.record("r1", lambda: [])
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert ledger.error_rate == pytest.approx(0.5)
    assert "rep raised" in ledger.errors[0]["problems"][0]
