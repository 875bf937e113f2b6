"""End-to-end encode->decode equality — the reference's golden roundtrip
gate (components/core/tests/test-clp_s-end_to_end.cpp:98-140): compress,
extract, byte-compare under stable (conv_id, turn_idx) ordering."""

import pyspark.sql.functions as F
import pytest

from clp_core_spark.operators import dictionaries, encode_pipeline

KEYS = ["conv_id", "turn_idx"]


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_encode_decode_roundtrip(spark, transcripts, monkeypatch):
    encoded, logtype_dict, var_dict = encode_pipeline.encode(
        transcripts, key_cols=KEYS, keep_text=True
    )
    decoded = encode_pipeline.decode(encoded, logtype_dict, var_dict, key_cols=KEYS)
    mismatches = decoded.where(~F.col("decoded_text").eqNullSafe(F.col("text")))
    rows = mismatches.select(*KEYS, "text", "decoded_text").limit(5).collect()
    assert rows == [], f"roundtrip mismatches: {rows}"
    assert decoded.count() == transcripts.count()
    assert "posexplode" not in _plan(decoded)

    # a var dict over the driver-copy bound decodes through the JVM join,
    # byte-equal to the map path (a fresh DataFrame: no copy taken yet)
    monkeypatch.setattr(dictionaries, "BROADCAST_VAR_DICT_MAX", 0)
    joined = encode_pipeline.decode(
        encoded, logtype_dict, var_dict.select("*"), key_cols=KEYS
    )
    assert "posexplode" in _plan(joined)
    diff = decoded.select(*KEYS, "decoded_text").exceptAll(
        joined.select(*KEYS, "decoded_text")
    )
    assert diff.limit(5).collect() == []
    assert joined.count() == transcripts.count()


def test_decode_opens_a_var_dict_with_one_job(spark, tmp_path):
    """The driver copy is the size test: the first decode build against
    a freshly loaded one-file var dict launches one Spark job (the
    bounded collect), a second build none."""
    from clp_core_spark.plans import dictstore
    from clp_core_spark.sources.transcripts import generate_transcripts

    t = generate_transcripts(spark, num_turns=200, seed=3)
    enc, lt, vd = encode_pipeline.encode(t, key_cols=KEYS)
    dictstore.save_dict(str(tmp_path), "var", vd.coalesce(1))
    vd = dictstore.load_dict(spark, str(tmp_path), "var")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(scheduler.nextJobId())
    encode_pipeline.decode(enc, lt, vd, KEYS)
    assert int(scheduler.nextJobId()) == before + 1
    encode_pipeline.decode(enc, lt, vd, KEYS)
    assert int(scheduler.nextJobId()) == before + 1


def test_dictionary_consistency(spark, transcripts, monkeypatch):
    encoded, logtype_dict, var_dict = encode_pipeline.encode(transcripts, key_cols=KEYS)
    lt = logtype_dict.collect()
    n = len(lt)
    ids = sorted(r["logtype_id"] for r in lt)
    assert ids == list(range(n)), "logtype IDs must be dense from 0"
    assert len({r["logtype"] for r in lt}) == n, "logtypes must be unique"

    vd = var_dict.collect()
    vids = [r["var_id"] for r in vd]
    assert len(set(vids)) == len(vd), "var IDs must be unique"
    assert len({r["var_str"] for r in vd}) == len(vd)

    # dense mode keeps CLP's sequential-ID storage property
    _, _, vd_dense = encode_pipeline.encode(
        transcripts, key_cols=KEYS, var_id_mode="dense"
    )
    dense_ids = sorted(r["var_id"] for r in vd_dense.collect())
    assert dense_ids == list(range(len(dense_ids))), "dense var IDs from 0"

    # dense-ID resolve through the JVM join (var dict over the driver-copy
    # bound) stores exactly what the broadcast-map resolve stores
    enc_map, _, _ = encode_pipeline.encode(
        transcripts, key_cols=KEYS, var_id_mode="dense"
    )
    monkeypatch.setattr(dictionaries, "BROADCAST_VAR_DICT_MAX", 0)
    enc_join, _, _ = encode_pipeline.encode(
        transcripts, key_cols=KEYS, var_id_mode="dense"
    )
    assert "posexplode" not in _plan(enc_map)
    assert "posexplode" in _plan(enc_join)
    cols = [*KEYS, "logtype_id", "encoded_vars"]
    assert enc_map.select(*cols).exceptAll(enc_join.select(*cols)).count() == 0
    assert enc_join.count() == enc_map.count()


def test_dictionary_determinism_across_parallelism(spark, transcripts):
    from clp_core_spark.operators import dictionaries

    parsed = encode_pipeline.parse(transcripts).persist()
    d1 = {r["logtype"]: r["logtype_id"]
          for r in dictionaries.build_logtype_dict(parsed).collect()}
    d2 = {r["logtype"]: r["logtype_id"]
          for r in dictionaries.build_logtype_dict(parsed.repartition(17)).collect()}
    assert d1 == d2, "dictionary IDs must not depend on partitioning"


def test_incremental_dictionary_ids_are_stable(spark, transcripts):
    from clp_core_spark.operators import dictionaries

    parsed = encode_pipeline.parse(transcripts).persist()
    half1 = parsed.where(F.col("turn_idx") % 2 == 0)
    half2 = parsed.where(F.col("turn_idx") % 2 == 1)
    d1 = dictionaries.build_var_dict(half1)
    d12 = dictionaries.build_var_dict(half2, existing=d1)
    m1 = {r["var_str"]: r["var_id"] for r in d1.collect()}
    m12 = {r["var_str"]: r["var_id"] for r in d12.collect()}
    for k, v in m1.items():
        assert m12[k] == v, "existing entries must keep their IDs on resume"
    ids = sorted(m12.values())
    assert ids == list(range(len(ids))), "incremental IDs stay dense"


BOUNDS = {"logtype": "LOGTYPE_DRIVER_MAX", "var": "BROADCAST_VAR_DICT_MAX"}
DICT_COLS = {"logtype": ["logtype", "logtype_id"], "var": ["var_str", "var_id"]}


def _build(kind, parsed, existing=None):
    if kind == "logtype":
        return dictionaries.build_logtype_dict(parsed, existing)
    return dictionaries.build_var_dict(parsed, existing)


def _ids(kind, df) -> dict:
    return {r[0]: r[1] for r in df.select(*DICT_COLS[kind]).collect()}


@pytest.mark.parametrize("driver", [True, False], ids=["driver", "distributed"])
@pytest.mark.parametrize("kind", ["logtype", "var"])
def test_next_id_after_a_one_entry_dictionary(spark, monkeypatch, kind, driver):
    """An existing dictionary whose max ID is 0 gives the next new entry
    ID 1, not a second 0."""
    if not driver:
        monkeypatch.setattr(dictionaries, BOUNDS[kind], 0)
    if kind == "logtype":
        existing = spark.createDataFrame(
            [("only \x11 one", 0)], "logtype string, logtype_id long"
        )
        parsed = spark.createDataFrame(
            [("only \x11 one",), ("new \x11 template",)], "logtype string"
        )
    else:
        existing = spark.createDataFrame([("only", 0)], "var_str string, var_id long")
        parsed = spark.createDataFrame([(["only", "new"],)], "dict_strs array<string>")
    got = _build(kind, parsed, existing)
    assert dictionaries.has_driver_copy(got) == driver
    assert sorted(_ids(kind, got).values()) == [0, 1]


@pytest.mark.parametrize("kind", ["logtype", "var"])
def test_driver_ids_equal_distributed_ids(spark, transcripts, monkeypatch, kind):
    """The driver rule assigns exactly the IDs of the distributed
    bucket-count + window assignment, fresh and incremental."""
    parsed = encode_pipeline.parse(transcripts).persist()
    # a first epoch lacking some templates and vars: the second adds both
    first = parsed.where(
        (F.pmod(F.xxhash64("logtype"), F.lit(3)) != 0) & (F.col("turn_idx") % 2 == 0)
    )

    def builds():
        fresh = _build(kind, first)
        return fresh, _build(kind, parsed, existing=fresh)

    local_fresh, local_grown = builds()
    monkeypatch.setattr(dictionaries, BOUNDS[kind], 0)
    dist_fresh, dist_grown = builds()
    assert dictionaries.has_driver_copy(local_grown)
    assert not dictionaries.has_driver_copy(dist_grown)
    assert _ids(kind, local_fresh) == _ids(kind, dist_fresh)
    grown = _ids(kind, local_grown)
    assert len(grown) > len(_ids(kind, local_fresh))
    assert grown == _ids(kind, dist_grown)
    parsed.unpersist()
