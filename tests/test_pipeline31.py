"""Python-reference tests for pipeline31: RFM quartiles, CUPED adjustment,
NDCG@k — each operator's Spark result is re-derived with plain
pandas/python arithmetic on the same parquet."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest

from messikinesisprovider_spark.operators.pipeline31 import (
    _DISCOUNTS,
    _NDCG_K,
    ab_test_cuped,
    eval_ndcg_at_k,
    rfm_segmentation,
)

SF = "/root/testdata/sf0.001"


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ntile(rank0: int, n: int, k: int = 4) -> int:
    base, rem = divmod(n, k)
    if base == 0:
        return rank0 + 1
    big = rem * (base + 1)
    return rank0 // (base + 1) + 1 if rank0 < big else rem + (rank0 - big) // base + 1


def test_rfm_matches_pandas_reference(spark):
    out = {
        (r["r_q"], r["f_q"], r["m_q"]): (r["n_customers"], r["cust_checksum"])
        for r in rfm_segmentation(spark, SF).collect()
    }
    o = pd.read_parquet(f"{SF}/orders.parquet")
    o = o[o["o_custkey"].notna() & o["o_orderdate"].notna()]
    base = (
        o.assign(day=o["o_orderdate"].dt.normalize())
        .groupby("o_custkey")
        .agg(frequency=("o_orderkey", "size"), monetary=("o_totalprice", "sum"),
             last_day=("day", "max"))
        .reset_index()
    )
    base["recency"] = (base["last_day"].max() - base["last_day"]).dt.days
    n = len(base)
    ref: dict[tuple[int, int, int], list[int]] = {}
    r_rank = {c: i for i, c in enumerate(
        base.sort_values(["recency", "o_custkey"])["o_custkey"])}
    f_rank = {c: i for i, c in enumerate(
        base.sort_values(["frequency", "o_custkey"], ascending=[False, True])["o_custkey"])}
    m_rank = {c: i for i, c in enumerate(
        base.sort_values(["monetary", "o_custkey"], ascending=[False, True])["o_custkey"])}
    for c in base["o_custkey"]:
        key = (_ntile(r_rank[c], n), _ntile(f_rank[c], n), _ntile(m_rank[c], n))
        ref.setdefault(key, []).append(int(c))
    assert out == {k: (len(v), sum(v)) for k, v in ref.items()}


def test_rfm_ranking_jobs_stay_in_caller_job_group(spark):
    """The three quartile rankings run their eager jobs from pool threads;
    each job must carry the caller's job group, or a host cancelling by
    group cannot reach it. Only ids above the last ungrouped id seen before
    the call count as new: the status store evicts old jobs in chunks
    (spark.ui.retainedJobs), so the ungrouped set can shrink mid-call."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    listener_bus = sc._jsc.sc().listenerBus()
    listener_bus.waitUntilEmpty()
    last_ungrouped = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup("rfm_job_group_test", "rfm_segmentation build")
    try:
        rfm_segmentation(spark, SF)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    listener_bus.waitUntilEmpty()
    assert [j for j in tracker.getJobIdsForGroup(None) if j > last_ungrouped] == []
    assert tracker.getJobIdsForGroup("rfm_job_group_test")


def test_cuped_matches_python_reference(spark):
    rows = {r["arm"]: r for r in ab_test_cuped(spark, SF).collect()}
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["ts"].notna() & ev["user_id"].notna() & ev["value"].notna()]
    t = ev["ts"].astype("int64") // 1000 if ev["ts"].dtype.str.endswith("ns]") else ev[
        "ts"
    ].astype("int64")
    ev = ev.assign(t=t)
    mid = (int(ev["t"].min()) + int(ev["t"].max())) // 2
    # per-user decimal sums at scale 6 (replicated with integer micro-units)
    ev["v6"] = (ev["value"] * 10**6).round().astype("int64")
    g = ev.groupby("user_id").apply(
        lambda d: pd.Series(
            {
                "x": int(d.loc[d["t"] < mid, "v6"].sum()),
                "y": int(d.loc[d["t"] >= mid, "v6"].sum()),
            }
        ),
        include_groups=False,
    ).reset_index()
    g["arm"] = [(_h60(str(int(u))) % 2) for u in g["user_id"]]
    nd = float(len(g))
    sx = float(sum(g["x"])) / 1e6
    sy = float(sum(g["y"])) / 1e6
    sxx = float(sum(int(x) * int(x) for x in g["x"])) / 1e12
    sxy = float(sum(int(x) * int(y) for x, y in zip(g["x"], g["y"]))) / 1e12
    theta = (nd * sxy - sx * sy) / (nd * sxx - sx * sx) if nd * sxx - sx * sx > 0 else 0.0
    for arm, grp in g.groupby("arm"):
        na = float(len(grp))
        sxa = float(sum(grp["x"])) / 1e6
        sya = float(sum(grp["y"])) / 1e6
        got = rows[arm]
        assert got["n_users"] == len(grp)
        assert got["mean_post"] == pytest.approx(sya / na, rel=1e-12)
        assert got["theta"] == pytest.approx(theta, rel=1e-9)
        adj = (sya / na) - theta * ((sxa / na) - (sx / nd))
        assert got["mean_post_cuped"] == pytest.approx(adj, rel=1e-9)


def test_cuped_arms_cover_all_users(spark):
    rows = ab_test_cuped(spark, SF).collect()
    ev = pd.read_parquet(f"{SF}/events.parquet")
    ev = ev[ev["ts"].notna() & ev["user_id"].notna() & ev["value"].notna()]
    assert sum(r["n_users"] for r in rows) == ev["user_id"].nunique()
    assert {r["arm"] for r in rows} == {0, 1}  # both arms non-vacuous


def test_ndcg_matches_python_reference(spark):
    out = {r["lang"]: r for r in eval_ndcg_at_k(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    docs["lang"] = docs["lang"].fillna("")
    for lang, grp in docs.groupby("lang"):
        items = [
            (_h60(f"{int(d)}|score"), _h60(f"{int(d)}|rel") % 4, int(d))
            for d in grp["doc_id"]
        ]
        by_score = sorted(items, key=lambda x: (-x[0], x[2]))[:_NDCG_K]
        by_rel = sorted(items, key=lambda x: (-x[1], x[2]))[:_NDCG_K]
        # exact decimal replication: discount at scale 9, gain integer
        dcg = sum(round(_DISCOUNTS[p] * 1e9) * (2 ** r - 1) for p, (_, r, _) in enumerate(by_score))
        idcg = sum(round(_DISCOUNTS[p] * 1e9) * (2 ** r - 1) for p, (_, r, _) in enumerate(by_rel))
        got = out[lang]
        assert got["n_docs"] == len(grp)
        assert got["dcg"] == pytest.approx(dcg / 1e9, rel=1e-12)
        expect = (dcg / 1e9) / (idcg / 1e9) if idcg > 0 else 0.0
        assert got[f"ndcg_at_{_NDCG_K}"] == pytest.approx(expect, rel=1e-12)
        assert 0.0 <= got[f"ndcg_at_{_NDCG_K}"] <= 1.0


def test_ndcg_discounts_are_pinned_literals():
    """The discount table is the scale-9 rounding of 1/log2(pos+1)."""
    assert len(_DISCOUNTS) == _NDCG_K
    assert _DISCOUNTS[0] == 1.0
    for p in range(1, _NDCG_K + 1):
        assert _DISCOUNTS[p - 1] == round(1.0 / math.log2(p + 1), 9)
