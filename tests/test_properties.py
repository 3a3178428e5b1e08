"""Property-based tests over the pure policy functions — the reference
tests its backoff as a pure function (DeadLetterReplayServiceTests);
Hypothesis widens that discipline to every deterministic policy the
engine's correctness rests on."""

import string

from hypothesis import given
from hypothesis import strategies as st

from trignis_spark.api import parse_log_entries, passphrase_ok
from trignis_spark.config import TrackingObject
from trignis_spark.deadletter import (
    BACKOFF_CAP_SECONDS,
    backoff_seconds,
    payload_hash,
)
from trignis_spark.sources.jdbc import POSTGRES, plan_incremental_read

OBJ = TrackingObject(
    name="o", table_name="outbox", key_columns=("id",), tracked_columns=("v",)
)


@given(st.integers(min_value=0, max_value=60))
def test_backoff_monotone_and_capped(attempts):
    cur = backoff_seconds(attempts)
    assert 0 < cur <= BACKOFF_CAP_SECONDS
    assert cur <= backoff_seconds(attempts + 1)  # never shrinks
    if cur < BACKOFF_CAP_SECONDS:
        assert backoff_seconds(attempts + 1) in (2 * cur, BACKOFF_CAP_SECONDS)


@given(st.text(), st.text())
def test_payload_hash_is_injective_on_observed_inputs(a, b):
    # dedup key soundness: equal hash ⟺ equal payload (no silent drops)
    assert (payload_hash(a) == payload_hash(b)) == (a == b)


@given(st.text(alphabet=string.printable, max_size=200))
def test_passphrase_round_trip(p):
    import hashlib

    sha = hashlib.sha256(p.encode("utf-8")).hexdigest()
    if p:
        assert passphrase_ok(p, sha)
        assert not passphrase_ok(p + "x", sha)
    assert passphrase_ok(p, None)  # unconfigured → open


@given(
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=1, max_value=10**6),
)
def test_jdbc_plan_partition_switch_is_exact(from_version, span, threshold):
    upper = from_version + span
    q, opts = plan_incremental_read(
        POSTGRES, OBJ, from_version, upper=upper,
        parallel_threshold=threshold, url="jdbc:postgresql://h/db",
    )
    assert f"id > {from_version}" in q
    if span > threshold:
        assert opts["dbtable"] == f"({q}) AS changes"
        assert (int(opts["lowerBound"]), int(opts["upperBound"])) == (
            from_version, upper,
        )
    else:
        assert opts["query"] == q and "dbtable" not in opts


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["INF", "ERR", "WRN", "DBG"]),
            st.text(
                alphabet=string.ascii_letters + string.digits + " .,:-_/",
                min_size=1, max_size=60,
            ),
            st.lists(
                st.text(
                    alphabet=string.ascii_letters + string.digits + " .",
                    min_size=1, max_size=40,
                ),
                max_size=3,
            ),
        ),
        max_size=20,
    )
)
def test_log_parser_entry_count_and_fold(entries):
    """Every well-formed header line becomes exactly one entry; its
    continuation lines fold into the message, none are lost."""
    lines = []
    for i, (lvl, msg, cont) in enumerate(entries):
        lines.append(f"2026-01-01 00:00:{i % 60:02d}.000 [{lvl}] {msg}")
        for c in cont:
            lines.append("  " + c)
    parsed = parse_log_entries("\n".join(lines))
    assert len(parsed) == len(entries)
    for (lvl, msg, cont), p in zip(entries, parsed):
        assert p["level"] == lvl
        assert p["message"].startswith(msg.rstrip())
        for c in cont:
            assert c.rstrip() in p["message"]


# --------------------------------------------------------------------------
# Rollup merge algebra (Spark-backed, bounded examples)
# --------------------------------------------------------------------------

import datetime as _dt

import pytest as _pytest
from hypothesis import HealthCheck, settings

_TS = st.integers(min_value=0, max_value=5_000)  # minutes over ~3.5 days
_VAL = st.sampled_from([0.0, 1.25, -2.5, 10.0, 0.125])
_DIM = st.sampled_from(["a", "b"])


def _event_rows():
    row = st.tuples(_TS, _DIM, _VAL)
    return st.lists(row, min_size=0, max_size=12)


@_pytest.mark.usefixtures("spark")
class TestRollupMergeAlgebra:
    @given(batch_a=_event_rows(), batch_b=_event_rows())
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_merge_of_rollups_equals_rollup_of_union(
        self, spark, batch_a, batch_b
    ):
        """merge(rollup(A), rollup(B)) == rollup(A ∪ B) — the exactness
        claim the continuous-aggregate sink rests on, over arbitrary
        batch splits, empty batches, and colliding buckets."""
        from trignis_spark.operators import rollup as ru

        def df(rows):
            data = [
                (_dt.datetime(2024, 1, 1) + _dt.timedelta(minutes=m), d, v)
                for m, d, v in rows
            ]
            return spark.createDataFrame(
                data, "ts timestamp_ntz, dim string, value double"
            )

        def level(frame):
            return ru.rollup_level(frame, "ts", "hour", ("dim",), "value")

        merged = ru.merge_rollup(level(df(batch_a)), level(df(batch_b)), ("dim",))
        direct = ru.normalize_level(level(df(batch_a).unionByName(df(batch_b))))

        canon = lambda f: sorted(  # noqa: E731
            (r["bucket"], r["dim"], r["n"], str(r["val_sum"]))
            for r in f.collect()
        )
        assert canon(merged) == canon(direct)


@given(
    st.lists(
        st.frozensets(st.integers(min_value=0, max_value=40),
                      min_size=1, max_size=20),
        min_size=2, max_size=12,
    ),
    st.sampled_from([0.5, 0.6, 0.8, 0.9]),
)
def test_prefix_filter_lemma_never_loses_a_qualifying_pair(sets, t):
    # the math operators/dedup.py::jaccard_pairs rests on: under the
    # global (df, shingle) order, any pair with J >= t must (a) share a
    # shingle inside both docs' floor((1-t)|d|)+1 prefixes and (b) pass
    # the symmetric length filter — so prefix blocking is lossless
    import math
    from fractions import Fraction

    df: dict[int, int] = {}
    for s in sets:
        for x in s:
            df[x] = df.get(x, 0) + 1

    def prefix(s):
        # the SHIPPED formula, epsilon included: the +1e-6 guards the
        # float boundary where (1-t)·|s| is an exact integer but the
        # product lands one ulp under it (e.g. (1-0.8)*55 = 10.999…);
        # without the epsilon this test fails for such sizes
        ordered = sorted(s, key=lambda x: (df[x], x))
        return set(ordered[: math.floor((1 - t) * len(s) + 1e-6) + 1])

    tf = Fraction(t).limit_denominator(10)  # 0.5/0.6/0.8/0.9 exactly
    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            jac = Fraction(len(a & b), len(a | b))  # exact, no floats
            if jac >= tf:
                assert prefix(a) & prefix(b), (a, b, t)
                # shipped length filter, epsilon included
                assert len(a) * t <= len(b) + 1e-6
                assert len(b) * t <= len(a) + 1e-6


@given(
    st.lists(
        st.frozensets(st.integers(min_value=0, max_value=40),
                      min_size=1, max_size=20),
        min_size=2, max_size=12,
    ),
    st.sampled_from([0.5, 0.6, 0.8, 0.9]),
    st.integers(min_value=1, max_value=6),
)
def test_prefix_filter_with_max_df_as_lossless_as_max_df_alone(
    sets, t, max_df
):
    # the ADVICE-r5 fix's invariant: with stop-shingles (df > max_df)
    # dropped from candidate generation, prefix filtering sized by the
    # UNFILTERED doc sizes loses exactly the pairs max_df alone loses
    # (those sharing only stop-shingles) — never a pair that still
    # shares a non-stop shingle. Sizing by the filtered sets instead
    # violates this (the round-5 defect).
    import math
    from fractions import Fraction

    df: dict[int, int] = {}
    for s in sets:
        for x in s:
            df[x] = df.get(x, 0) + 1
    keep = {x for x, d in df.items() if d <= max_df}

    def prefix(s):
        # rank within the FILTERED set, prefix length from the FULL size
        ordered = sorted(s & keep, key=lambda x: (df[x], x))
        return set(ordered[: math.floor((1 - t) * len(s) + 1e-6) + 1])

    tf = Fraction(t).limit_denominator(10)
    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            jac = Fraction(len(a & b), len(a | b))
            if jac >= tf and (a & b & keep):
                assert prefix(a) & prefix(b), (a, b, t, max_df)
                # full-size length filter holds by J >= t alone
                assert len(a) * t <= len(b) + 1e-6
                assert len(b) * t <= len(a) + 1e-6
