"""Round-9 additions: the C4 rule funnel and the distributed full-batch
perceptron trainer (both oracle-gated in the driver; these tests pin the
semantics the hash comparison can't see)."""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"


def test_c4_rules_funnel_is_conservation_consistent(spark):
    from kremis_spark.plans.scrub import q_c4_rules

    rows = {int(r["rule_id"]): r for r in q_c4_rules(spark, SF_DIR).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5]
    for rid, r in rows.items():
        assert r["n_checked"] == r["n_failed"] + r["n_survive"]
        if rid > 1:
            # funnel: each rule checks exactly the previous survivors
            assert r["n_checked"] == rows[rid - 1]["n_survive"]
    assert rows[1]["n_checked"] > 0


def test_c4_rules_detect_markers(spark):
    """The curly-brace and lorem-ipsum rules fire on synthetic docs."""
    from kremis_spark.plans.scrub import (
        C4_MIN_SENTENCES,
        C4_MIN_WORDS_PER_SENT,
    )

    assert C4_MIN_SENTENCES >= 1 and C4_MIN_WORDS_PER_SENT >= 1
    rows = spark.createDataFrame(
        [
            (1, "This is a good first sentence right here. Another quite "
                "long sentence follows right after it. And a third long "
                "sentence finishes the whole document nicely.",
             "en", "s", 150),
            (2, "Code page { x = 1; } here. More. And more done now.",
             "en", "s", 50),
            (3, "Lorem ipsum dolor sit amet. Filler text. More filler.",
             "en", "s", 53),
            (4, "no terminal punctuation at all in this document",
             "en", "s", 47),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    import kremis_spark.plans.scrub as S

    orig = S._docs
    S._docs = lambda sp, sf: rows  # bypasses the session memo entirely
    try:
        got = {int(r["rule_id"]): r for r in S.q_c4_rules(spark, "x").collect()}
    finally:
        S._docs = orig
    assert got[1]["n_failed"] == 1  # doc 4: no terminal punct
    assert got[3]["n_failed"] == 1  # doc 2: curly brace
    assert got[4]["n_failed"] == 1  # doc 3: lorem ipsum
    assert got[5]["n_survive"] == 1  # only doc 1 survives everything


def test_perceptron_step_matches_local_reference(spark):
    """The distributed epoch trace equals a plain-Python perceptron over
    the same features — weights and misclassification counts exact."""
    from kremis_spark.plans.filtering import (
        PERC_EPOCHS,
        _perceptron_features,
        q_perceptron_step,
    )

    feats = [
        (int(r["x1"]), int(r["x2"]), int(r["x3"]), int(r["y"]))
        for r in _perceptron_features(spark, SF_DIR).collect()
    ]
    assert feats and {y for *_, y in feats} <= {1, -1}
    w = [0, 0, 0, 0]
    expect = []
    for epoch in range(1, PERC_EPOCHS + 1):
        mis = [
            (x1, x2, x3, y)
            for x1, x2, x3, y in feats
            if y * (w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3) <= 0
        ]
        w = [
            w[0] + sum(y for *_, y in mis),
            w[1] + sum(y * x1 for x1, _, _, y in mis),
            w[2] + sum(y * x2 for _, x2, _, y in mis),
            w[3] + sum(y * x3 for _, _, x3, y in mis),
        ]
        expect.append((epoch, len(feats), len(mis), *w))
    got = [
        (
            int(r["epoch"]), int(r["n_checked"]), int(r["n_misclassified"]),
            int(r["w_bias"]), int(r["w_tokens"]), int(r["w_chars"]),
            int(r["w_distinct"]),
        )
        for r in q_perceptron_step(spark, SF_DIR).collect()
    ]
    assert got == expect
    # the trainer must actually move: epoch-1 update is the all-doc sum
    assert got[0][2] == len(feats)


@pytest.mark.parametrize("name", ["pipe_c4_rules", "pipe_perceptron_step"])
def test_round9_oracles_run_in_duckdb(name):
    """The oracle SQL parses and runs standalone (schema drift guard)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    sql = e.oracle_sql()[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    out = con.execute(sql).fetchall()
    assert out


def test_cusum_drift_fires_on_sustained_shift(spark):
    """A series flat at k with a sustained +delta tail must accumulate
    and alarm; the flat head must not. Built via a synthetic events
    frame routed through the real operator (read_table monkeypatched)."""
    import kremis_spark.plans.analytics as A
    from pyspark.sql import functions as F

    HOUR = 3_600_000_000_000
    rows = []
    eid = 0
    # 20 quiet hours at 2 events/h, then 10 drifted hours at 6 events/h
    for h in range(30):
        for _ in range(2 if h < 20 else 6):
            rows.append((eid, 1, "click", h * HOUR + eid % 1000))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts LONG"
    )
    orig = A.read_table
    A.read_table = lambda sp, sf, t: ev
    try:
        got = A.q_cusum_drift(spark, "x").collect()
    finally:
        A.read_table = orig
    assert len(got) == 30
    head = [r for r in got if r["hr"] < 20]
    tail = [r for r in got if r["hr"] >= 25]
    # mean k = (20*2 + 10*6) // 30 = 3; head runs below k → cusum clamps ~0
    assert all(int(r["is_alarm"]) == 0 for r in head)
    assert all(int(r["is_alarm"]) == 1 for r in tail), [
        (r["hr"], r["cusum"]) for r in got
    ]
    # cusum is nonnegative and nondecreasing through the drifted tail
    tail_vals = [int(r["cusum"]) for r in got if r["hr"] >= 20]
    assert tail_vals == sorted(tail_vals) and min(tail_vals) >= 0


def test_cusum_densifies_empty_hours(spark):
    """Hours with zero events appear in the output (a stalled pipeline
    is drift the detector must see)."""
    import kremis_spark.plans.analytics as A

    HOUR = 3_600_000_000_000
    rows = [(0, 1, "click", 0), (1, 1, "click", 5 * HOUR)]
    ev = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts LONG"
    )
    orig = A.read_table
    A.read_table = lambda sp, sf, t: ev
    try:
        got = A.q_cusum_drift(spark, "x").collect()
    finally:
        A.read_table = orig
    assert [int(r["hr"]) for r in got] == list(range(6))
    assert [int(r["n"]) for r in got] == [1, 0, 0, 0, 0, 1]


def test_running_cusum_split_invariant(tmp_path, spark):
    """The stateful streaming CUSUM emits the same per-hour trace
    whether events arrive in one micro-batch or two (maxFilesPerTrigger
    forces a boundary mid-hour): closed hours are final, the open-hour
    snapshot re-emits with grown n, and the max-by-n reduction equals
    the batch recurrence."""
    import json as _json
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    from kremis_spark.streaming.stream import (
        EVENTS_STREAM_SCHEMA,
        running_cusum,
    )

    HOUR = 3600
    # hours 0..3 of type "c": counts 3, 0 (gap), 1, 5 — k=2 →
    # s: max(0,0+3-2)=1, max(0,1+0-2)=0, max(0,0+1-2)=0, max(0,0+5-2)=3
    times = [0, 10, 20, 2 * HOUR + 5] + [3 * HOUR + i for i in range(5)]
    rows = [
        {"event_id": i, "ts": t, "user_id": 1, "event_type": "c",
         "value": "1"}
        for i, t in enumerate(times)
    ]
    src = tmp_path / "ev_cusum"
    src.mkdir()
    # split mid-hour-3: three of its five events in file b
    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows[:6]) + "\n"
    )
    (src / "b.jsonl").write_text(
        "\n".join(_json.dumps(r) for r in rows[6:]) + "\n"
    )
    now = _time.time()
    _os.utime(src / "a.jsonl", (now - 10, now - 10))
    _os.utime(src / "b.jsonl", (now, now))
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts LONG, user_id LONG, "
            "event_type STRING, value STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .select("event_type", (F.col("ts") * 1_000_000_000).alias("ts"))
    )
    q = (
        running_cusum(stream, {"c": 2}, 4)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM cusum_stream").collect()
    final = {}
    for r in out:  # max-by-n per (type, hr): the converged emission
        key = (r["event_type"], int(r["hr"]))
        cur = final.get(key)
        if cur is None or int(r["n"]) > int(cur["n"]):
            final[key] = r
    got = {
        hr: (int(r["n"]), int(r["cusum"]), int(r["is_alarm"]))
        for (_, hr), r in final.items()
    }
    # alarm threshold = 4*2+1 = 9 → never fires here
    assert got == {0: (3, 1, 0), 1: (0, 0, 0), 2: (1, 0, 0), 3: (5, 3, 0)}
