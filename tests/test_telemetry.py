"""``telemetry.measure``: the one way tools and bench.py time an op. Its
stage records come from the app status store with the UI off."""

from __future__ import annotations

from australis_indexer_spark.telemetry import _stage_list, measure
from tests.conftest import SF_SMOKE


def _ran_stage_ids(spark) -> set[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    listed = _stage_list(sc.statusStore())
    return {
        listed.apply(i).stageId()
        for i in range(listed.size())
        if listed.apply(i).status().toString() != "SKIPPED"
    }


def test_measure_record_and_ui_off(spark, ops):
    rec = measure(spark, ops["agg_hash_pricing_summary"].fn, SF_SMOKE)
    assert spark.conf.get("spark.ui.enabled") == "false"
    assert set(rec) == {"build_s", "exec_s", "stages"}
    assert rec["build_s"] > 0 and rec["exec_s"] > 0
    for name, write, read in rec["stages"]:
        assert isinstance(name, str) and write >= 0 and read >= 0


def test_measure_credits_each_stage_to_one_call(spark, ops):
    """A grouping op writes shuffle bytes; the map-only media decode right
    after it reports no shuffle stage, and the two records together hold
    exactly the stages that ran in the two windows."""
    before = _ran_stage_ids(spark)
    agg = measure(spark, ops["agg_hash_pricing_summary"].fn, SF_SMOKE)
    decode = measure(spark, ops["multimodal_decode_real"].fn, SF_SMOKE)
    ran = _ran_stage_ids(spark) - before

    assert sum(w for _, w, _ in agg["stages"]) > 0
    assert decode["stages"]
    assert not [s for s in decode["stages"] if s[1] or s[2]]
    assert len(agg["stages"]) + len(decode["stages"]) == len(ran)
