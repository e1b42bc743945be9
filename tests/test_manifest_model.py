"""Model-based test of the manifest table: a random SEQUENCE of
merge / merge_batch / append / delete (rewrite AND merge-on-read dv)
/ update_where / overwrite / restore / compact / evolve / vacuum
operations must leave the table's visible rows equal to an in-memory
dict model applying the same semantics — the cross-operation interactions
(delete after evolve, compact after delete, merge over appended
duplicates…) that single-operation tests can't cover.

Each op also round-trips the invariants the layer promises globally:
the live snapshot's row multiset matches the model exactly after
EVERY step, and vacuum never changes visible rows.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stock_market_data_pipeline_spark.manifest import ManifestTable

DATES = ["2024-01-0%d" % d for d in (1, 2, 3)]
TICKERS = ["AA", "BB", "CC"]

# one op = (kind, payload); payloads are drawn small so sequences stay
# fast but cross several partitions
_row = st.tuples(st.sampled_from(TICKERS), st.sampled_from(DATES),
                 st.integers(0, 9).map(float))
_ops = st.lists(
    st.one_of(
        st.tuples(st.just("merge"), st.lists(_row, min_size=1,
                                             max_size=3)),
        st.tuples(st.just("merge_dv"), st.lists(_row, min_size=1,
                                                max_size=3)),
        st.tuples(st.just("merge_batch"), st.lists(_row, min_size=1,
                                                   max_size=3)),
        st.tuples(st.just("merge_batch_dv"),
                  st.lists(_row, min_size=1, max_size=3)),
        st.tuples(st.just("append"), st.lists(_row, min_size=1,
                                              max_size=2)),
        st.tuples(st.just("dsv2_append"), st.lists(_row, min_size=1,
                                                   max_size=2)),
        st.tuples(st.just("delete"), st.integers(0, 9)),
        st.tuples(st.just("delete_dv"), st.integers(0, 9)),
        st.tuples(st.just("update_dv"), st.integers(0, 9)),
        st.tuples(st.just("overwrite"), st.lists(_row, min_size=1,
                                                 max_size=2)),
        st.tuples(st.just("dsv2_overwrite"),
                  st.lists(_row, min_size=1, max_size=2)),
        st.tuples(st.just("restore1"), st.just(None)),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("vacuum"), st.just(None)),
    ),
    min_size=1, max_size=5)


def _mk(spark, rows, venue=False):
    df = spark.createDataFrame(
        rows, "ticker string, trade_date string, close double")
    df = df.withColumn("trade_date", F.col("trade_date").cast("date"))
    if venue:
        df = df.withColumn("venue", F.lit("X"))
    return df


@pytest.mark.parametrize("backend_kind", ["posix", "coordinator"])
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_ops, evolve_at=st.integers(0, 4))
def test_random_op_sequences_match_dict_model(spark, tmp_path_factory,
                                              backend_kind, ops,
                                              evolve_at):
    from stock_market_data_pipeline_spark.manifest import (
        CoordinatorClaimBackend,
        PosixLinkBackend,
    )

    backend = {"posix": PosixLinkBackend,
               "coordinator": CoordinatorClaimBackend}[backend_kind]()
    root = str(tmp_path_factory.mktemp("model") / "t")
    base = [("AA", "2024-01-01", 1.0), ("BB", "2024-01-02", 2.0)]
    table = ManifestTable.create(_mk(spark, base), root,
                                 ts="trade_date", backend=backend)
    # model: (ticker, date) -> list of (close, venue) — append may
    # create duplicates on a key, merge collapses them (anti-join
    # drops every copy of a matched key), delete filters by value
    model: dict[tuple, list] = {
        ("AA", "2024-01-01"): [(1.0, None)],
        ("BB", "2024-01-02"): [(2.0, None)]}
    import copy
    model_v1 = copy.deepcopy(model)
    evolved = False
    v1_gone = False          # vacuum only reclaims v1 once superseded
    key = lambda r: (r[0], r[1], r[2], r[3] or "")  # noqa: E731

    def snap():
        return sorted(
            ((r.ticker, str(r.trade_date), r.close,
              r.venue if evolved else None)
             for r in table.read(spark).collect()), key=key)

    def model_snap():
        return sorted(
            ((t, d, c, v) for (t, d), vals in model.items()
             for (c, v) in vals), key=key)

    for i, (kind, payload) in enumerate(ops):
        if i == evolve_at and not evolved:
            table.add_columns([("venue", "string")])
            evolved = True
        venue_val = "X" if evolved else None
        if kind in ("merge", "merge_dv", "merge_batch", "merge_batch_dv"):
            df = _mk(spark, payload, venue=evolved)
            mode = "dv" if kind.endswith("_dv") else "rewrite"
            if kind.startswith("merge_batch"):
                # the streaming sink applies merge's semantics; batch
                # ids only grow, so none is refused as a replay
                assert table.merge_batch(
                    spark, df, ["ticker", "trade_date"], "s", i, mode=mode)
            else:
                table.merge(spark, df, ["ticker", "trade_date"], mode=mode)
            for (t, d, c) in payload:
                model[(t, d)] = []
            for (t, d, c) in payload:
                # last write per key wins within one merge frame? No:
                # merge keeps EVERY update row; duplicates in the
                # update land as duplicates (same as merge_upsert)
                model[(t, d)].append((c, venue_val))
        elif kind in ("append", "dsv2_append"):
            df = _mk(spark, payload, venue=evolved)
            if kind == "dsv2_append":
                # the same blind-append semantics through the DSv2
                # writer protocol (stage-per-task, commit on driver)
                from stock_market_data_pipeline_spark. \
                    manifest_datasource import ManifestDataSource
                spark.dataSource.register(ManifestDataSource)
                df.write.format("manifest") \
                    .option("acceptSprayedLayout", "true") \
                    .mode("append").save(root)
            else:
                table.append(df)
            for (t, d, c) in payload:
                model.setdefault((t, d), []).append((c, venue_val))
        elif kind in ("delete", "delete_dv"):
            thresh = float(payload)
            out = table.delete_where(
                spark, F.col("close") >= thresh,
                where={"close": (thresh, None)},
                mode=("dv" if kind == "delete_dv" else "rewrite"))
            expect_deleted = sum(
                1 for vals in model.values()
                for (c, _) in vals if c >= thresh)
            assert out["rows_deleted"] == expect_deleted
            if kind == "delete_dv":
                assert out["partitions_rewritten"] == 0
            for k in list(model):
                model[k] = [(c, v) for (c, v) in model[k]
                            if c < thresh]
                if not model[k]:
                    del model[k]
        elif kind == "update_dv":
            thresh = float(payload)
            out = table.update_where(
                spark, {"close": "close + 100.0"},
                F.col("close") >= thresh,
                where={"close": (thresh, None)})
            expect = sum(1 for vals in model.values()
                         for (c, _) in vals if c >= thresh)
            assert out["rows_updated"] == expect
            assert out["partitions_rewritten"] == 0
            for k in list(model):
                model[k] = [((c + 100.0, v) if c >= thresh else (c, v))
                            for (c, v) in model[k]]
        elif kind in ("overwrite", "dsv2_overwrite"):
            # full refresh: one commit swaps the entire build; schema
            # re-pins from the written frame (venue iff evolved)
            df = _mk(spark, payload, venue=evolved)
            if kind == "dsv2_overwrite":
                from stock_market_data_pipeline_spark. \
                    manifest_datasource import ManifestDataSource
                spark.dataSource.register(ManifestDataSource)
                df.write.format("manifest") \
                    .option("acceptSprayedLayout", "true") \
                    .mode("overwrite").save(root)
            else:
                table.overwrite(df)
            model = {}
            for (t, d, c) in payload:
                model.setdefault((t, d), []).append((c, venue_val))
        elif kind == "restore1":
            if v1_gone:
                # v1's manifest was reclaimed: clear failure, live
                # snapshot untouched
                with pytest.raises(FileNotFoundError):
                    table.restore(1)
            else:
                table.restore(1)
                model = copy.deepcopy(model_v1)
                evolved = False          # v1 predates any evolution
        elif kind == "compact":
            table.compact(spark)
        elif kind == "vacuum":
            if table.version() > 1:
                v1_gone = True           # the v1 manifest is history
            table.vacuum(retention_seconds=0)
        assert snap() == model_snap(), (i, kind, payload)

    # closing invariants: a final compact + vacuum changes nothing
    table.compact(spark)
    table.vacuum(retention_seconds=0)
    assert snap() == model_snap()
    # history is monotone and the live version reads consistently
    versions = [h["version"] for h in table.history()]
    assert versions == sorted(versions)
