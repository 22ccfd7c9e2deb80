"""Model-based fuzz of the standard Delta writer.

A random sequence of table operations (append, DELETE, MERGE upsert,
UPDATE, RESTORE, OPTIMIZE) runs against both ``DeltaStandardWriter``
and a trivial in-memory Python model; after EVERY commit the logical
table contents must match the model exactly, and at the end every
recorded historical version must time-travel back to the model's
snapshot at that version. This is the property the whole txn-log
design hangs on: no operation sequence may lose, duplicate, or
resurrect a row. DELETE always writes deletion vectors and UPDATE
always rewrites, so each has one op.
"""

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import Row

from kafka_delta_ingest_spark.delta_standard import (
    DeltaStandardWriter,
    read_delta,
    table_changes,
)

APPEND = "append"
DELETE = "delete"
MERGE = "merge"
OPT = "optimize"
UPD = "update"
RESTORE = "restore"

FUZZ = settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)


def _rows(spark, w, version=None):
    return {
        (r.id, r.val)
        for r in read_delta(spark, w.root, version=version)
        .select("id", "val").collect()
    }


def _apply(spark, w, model, next_id, kind, arg, history):
    """Run one op on the table and the model; returns (model,
    next_id, version). A no-op DML returns the unchanged version."""
    if kind == APPEND:
        rows = [Row(id=next_id + j, val=f"v{next_id + j}") for j in range(arg)]
        v = w.write(spark.createDataFrame(rows))
        model = {**model, **{r.id: r.val for r in rows}}
        next_id += arg
    elif kind == DELETE:
        v = w.delete_where(spark, f"id < {arg}")
        model = {i: s for i, s in model.items() if not i < arg}
    elif kind == UPD:
        v = w.update_where(spark, f"id < {arg}", {"val": "concat(val, 'u')"})
        model = {i: (s + "u" if i < arg else s) for i, s in model.items()}
    elif kind == MERGE:
        v = w.merge(
            spark,
            spark.createDataFrame([Row(id=arg, val=f"merged{arg}")]),
            "source.id = target.id",
            when_matched_update={"val": "source.val"},
        )
        model = {**model, arg: f"merged{arg}"}
    elif kind == RESTORE:
        versions = sorted(history)
        target = versions[arg % len(versions)]
        v = w.restore(target, spark)
        model = dict(history[target])
    else:
        v = w.optimize(spark, target_file_bytes=1 << 20)
    return model, next_id, v


def _seed(spark, w):
    seed = [Row(id=i, val=f"v{i}") for i in range(8)]
    v = w.write(spark.createDataFrame(seed))
    return {r.id: r.val for r in seed}, 8, v


op_strategy = st.one_of(
    st.tuples(st.just(APPEND), st.integers(1, 6)),
    st.tuples(st.just(DELETE), st.integers(0, 40)),
    st.tuples(st.just(MERGE), st.integers(0, 40)),
    st.tuples(st.just(OPT), st.just(0)),
)


@FUZZ
@given(st.lists(op_strategy, min_size=3, max_size=7))
def test_random_op_sequences_match_model(spark, tmp_path_factory, ops):
    w = DeltaStandardWriter(str(tmp_path_factory.mktemp("sink-fuzz") / "t"))
    model, next_id, v = _seed(spark, w)
    history = {v: dict(model)}
    for kind, arg in ops:
        model, next_id, v = _apply(spark, w, model, next_id, kind, arg, history)
        history[v] = dict(model)
        assert _rows(spark, w) == set(model.items()), (kind, arg)

    # Every committed version time-travels back to its model snapshot.
    for version, want in history.items():
        assert _rows(spark, w, version) == set(want.items()), f"version {version}"


op2_strategy = st.one_of(
    st.tuples(st.just(APPEND), st.integers(1, 6)),
    st.tuples(st.just(DELETE), st.integers(0, 40)),
    st.tuples(st.just(MERGE), st.integers(0, 40)),
    st.tuples(st.just(UPD), st.integers(0, 40)),
    st.tuples(st.just(RESTORE), st.integers(0, 10)),
    st.tuples(st.just(OPT), st.just(0)),
)


@FUZZ
@given(st.lists(op2_strategy, min_size=4, max_size=8))
def test_dml_sequences_match_model_and_cdf_replay(spark, tmp_path_factory, ops):
    """UPDATE and RESTORE to random recorded versions join the fuzz,
    plus a change-data-feed replay: reconstructing the table purely
    from table_changes must land on the model's final state, whatever
    the op sequence was (RESTORE contributes its row-level diff)."""
    w = DeltaStandardWriter(str(tmp_path_factory.mktemp("sink-fuzz2") / "t"))
    model, next_id, v = _seed(spark, w)
    history = {v: dict(model)}
    cdf_from = w.enable_change_data_feed()
    history[cdf_from] = dict(model)
    for kind, arg in ops:
        model, next_id, v = _apply(spark, w, model, next_id, kind, arg, history)
        history[v] = dict(model)
        assert _rows(spark, w) == set(model.items()), (kind, arg)

    # CDF replay: fold the whole feed (deletes before inserts within a
    # version; preimages dropped) and land exactly on the final model.
    feed = (
        table_changes(spark, w.root, cdf_from + 1).collect()
        if w.latest_version() > cdf_from else []
    )
    state = dict(history[cdf_from])
    by_version: dict[int, list] = {}
    for r in feed:
        by_version.setdefault(r._commit_version, []).append(r)
    for v in sorted(by_version):
        rows = by_version[v]
        for r in rows:
            if r._change_type == "delete":
                state.pop(r.id, None)
        for r in rows:
            if r._change_type in ("insert", "update_postimage"):
                state[r.id] = r.val
    assert state == model

    for version, want in history.items():
        assert _rows(spark, w, version) == set(want.items()), f"version {version}"
