"""Round-11 equivalence pins.

- the five-regex attr extraction (variants.extract_variant_fields) must match
  a Python-re replica of the reference's full-attr regexes on every
  edge shape, including the weird lazy-regex captures (a one-pass
  locate/substring parse was built against these cases, measured
  2.5-4.5x slower and reverted — OPTIMIZATION_r11.md, item 2);
- the index-probe dedup must flag every exact copy as a duplicate of
  its source with a 1.0 estimate;
- the materialize() switch must keep local plans identical and must
  actually produce a reliable checkpoint in cluster mode;
- the read_table memo must live on the session, re-assert the nanos
  conf on hits, and honor refresh_table.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from eggv_spark.operators.variants import (
    _EFFECT_PATTERN,
    _MAF_PATTERN,
    _REF_ALLELE_PATTERN,
    _RSID_PATTERN,
    _VAR_ALLELE_PATTERN,
    extract_variant_fields,
)

#: Edge shapes the extraction must reproduce (the reference's
#: full-attr regex semantics, incl. mid-value occurrences, empty
#: values whose lazy '.' eats the ';', duplicate keys, missing
#: trailing ';', keys as substrings of other keys, '=' in values).
ATTR_EDGE_CASES = [
    "ID=1;Dbxref=dbSNP_150:rs7;Variant_seq=A;Reference_seq=C;evidence_values=x",
    "Dbxref=dbSNP_1:rs1",
    "Dbxref=dbSNP_1:rs2;Variant_effect=;;",
    "Dbxref=dbSNP_1:rs2;Variant_effect=;x;",
    "Dbxref=dbSNP_1:rs2;Variant_effect=a;b;",
    "a=b;Variant_effect=x",
    "prefix Variant_effect=stop 1 mRNA T2;suffix;Dbxref=dbSNP_1:rs3;",
    "note=see Dbxref=dbSNP_9:rs99 here;Variant_seq=G;",
    "note=Variant_seq=TT;Reference_seq=A;Dbxref=dbSNP_1:rs4;",
    "x=global_minor_allele_frequency=1|0.5;Dbxref=dbSNP_1:rs5;",
    "Dbxref=dbSNP_1:rs6;global_minor_allele_frequency=1|0.25;",
    "Dbxref=dbSNP_1:rs6;global_minor_allele_frequency=x|0.25;",
    "Dbxref=dbSNP_1:rs7;Variant_seq=N;Reference_seq=NACGT;",
    "Dbxref=dbSNP_1:rs7;Variant_seq=AN;",
    "Dbxref=OMIM:1,dbSNP_150:rs8;",
    "Dbxref=OMIM:1;Dbxref=dbSNP_150:rs9;",
    "XDbxref=dbSNP_1:rs10;",
    "Variant_seq=A=B;Dbxref=dbSNP_1:rs11;",
    "Variant_seq=;Variant_seq=A;Dbxref=dbSNP_1:rs12;",
]


def _reference_rows(attrs):
    """Python-re replica of the OLD five-full-regex extraction."""
    out = []
    for a in attrs:
        def cap(pat, grp=1):
            m = re.search(pat, a)
            return m.group(grp) if m else ""

        rsid = cap(_RSID_PATTERN)
        if rsid == "":
            continue
        var = cap(_VAR_ALLELE_PATTERN) or "-"
        ref = cap(_REF_ALLELE_PATTERN) or "-"
        maf = cap(_MAF_PATTERN)
        eff = cap(_EFFECT_PATTERN) or "intergenic"
        out.append(
            (int(rsid), f"{var},{ref}",
             float(maf) if maf else 0.0, eff)
        )
    return sorted(out)


def test_one_pass_attr_parse_matches_reference_regexes(spark):
    df = spark.createDataFrame(
        [("7", str(i), str(i), a) for i, a in enumerate(ATTR_EDGE_CASES)],
        "seqid string, start string, end string, attr string",
    )
    got = sorted(
        (r.rsid, r.observed, r.maf, r.effect)
        for r in extract_variant_fields(df).collect()
    )
    want = _reference_rows(ATTR_EDGE_CASES)
    assert [g[:2] + (pytest.approx(g[2]),) + g[3:] for g in got] == [
        w[:2] + (pytest.approx(w[2]),) + w[3:] for w in want
    ]


def test_index_dedup_exact_copy_verdict(spark):
    """Every shard doc is an exact copy of a corpus doc re-tagged
    +1,000,000 (the ddp_index_dedup shape): each is a dup, its dup_of
    is its source id, and its signature-agreement estimate is 1.0."""
    from eggv_spark.operators import dedupe as D

    rows = [(i, f"u{i} v{i} w{i} x{i} y{i} z{i} q{i} r{i}")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    shard = docs.filter("doc_id % 10 = 0").withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    idx = D.minhash_band_index(docs)
    out = D.dedupe_against_index(shard, idx, threshold=0.7).collect()
    assert sorted(r.doc_id for r in out) == [
        1000000 + i for i in range(0, 40, 10)
    ]
    for r in out:
        assert r.is_dup
        assert r.dup_of == r.doc_id - 1000000
        assert r.best_est == 1.0


def test_materialize_local_is_localcheckpoint_and_reliable_checkpoints(
    spark, tmp_path
):
    from eggv_spark.materialize import (
        DIR_CONF,
        MODE_CONF,
        materialize,
        materialize_lazy,
    )

    df = spark.range(10).withColumn("x", F.col("id") * 2)
    local = materialize(df)
    # local mode: a localCheckpoint leaf (ExistingRDD), same rows
    assert "ExistingRDD" in local._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, df.collect()))

    spark.conf.set(MODE_CONF, "reliable")
    try:
        spark.conf.set(DIR_CONF, str(tmp_path / "ckpt"))
        # frames other test modules cached must not mask a leak here
        spark.catalog.clearCache()
        rel = materialize(df)
        assert sorted(map(tuple, rel.collect())) == sorted(
            map(tuple, df.collect())
        )
        # a reliable checkpoint actually wrote files
        import glob

        assert glob.glob(str(tmp_path / "ckpt" / "**" / "*"), recursive=True)
        # and the source persisted for the checkpoint write is gone:
        # nothing is left in the session-wide CacheManager
        cache = spark._jsparkSession.sharedState().cacheManager()
        assert cache.isEmpty()
        # the lazy cut takes the same eager path in reliable mode
        lazy = materialize_lazy(df)
        assert "ExistingRDD" in lazy._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, lazy.collect())) == sorted(
            map(tuple, df.collect())
        )
        assert cache.isEmpty()
        # a caller's own cache entry for the same plan survives the cut
        df.cache()
        try:
            materialize(df)
            assert df.is_cached and not cache.isEmpty()
        finally:
            df.unpersist()
    finally:
        spark.conf.unset(MODE_CONF)
        spark.conf.unset(DIR_CONF)


def test_materialize_reliable_requires_checkpoint_dir():
    # fresh isolated session: no checkpoint dir, no DIR_CONF
    from eggv_spark.materialize import MODE_CONF, materialize
    from eggv_spark.session import get_session

    spark = get_session(
        "mat-no-dir", master="local[1]", shuffle_partitions=1,
        extra_confs={"spark.ui.enabled": "false", MODE_CONF: "reliable"},
    )
    try:
        if spark.sparkContext.getCheckpointDir() is None:
            with pytest.raises(ValueError, match="checkpoint directory"):
                materialize(spark.range(3))
    finally:
        spark.conf.unset(MODE_CONF)


#: A dirty GVF drop: one clean line, one line with an UNCASTABLE
#: start field, one line with MORE than 9 fields (extra trailing
#: tab-separated token), one truncated 4-field line.
DIRTY_GVF = (
    "##gff-version 3\n"
    "7\tdbSNP\tSNV\t10\t10\t.\t+\t.\t"
    "ID=1;Dbxref=dbSNP_151:rs1;Variant_seq=A;Reference_seq=T;x=1\n"
    "7\tdbSNP\tSNV\tBAD\t20\t.\t+\t.\t"
    "ID=2;Dbxref=dbSNP_151:rs2;Variant_seq=G;Reference_seq=C;x=1\n"
    "7\tdbSNP\tSNV\t30\t30\t.\t+\t.\t"
    "ID=3;Dbxref=dbSNP_151:rs3;Variant_seq=C;Reference_seq=G;x=1\tEXTRA\n"
    "7\tdbSNP\tSNV\t40\n"
)


def test_dirty_gvf_reader_paths_keep_their_contracts(spark, tmp_path):
    """Pipeline-level pin of the two GVF reader contracts on a DIRTY
    drop (VERDICT r10 item 4): the pipeline's split parser degrades
    PER-FIELD (uncastable start -> null start, >9 fields -> 9th kept
    as attr, truncated line -> null attr -> dropped by the rsid
    filter), while the untrusted-input CSV path quarantines whole
    malformed rows via capture_corrupt."""
    import gzip

    from eggv_spark import pipeline
    from eggv_spark.layout import DataLayout
    from eggv_spark.sources.readers import read_gvf, split_corrupt

    lay = DataLayout(str(tmp_path / "data"), "mm10")
    lay.create()
    with gzip.open(lay.variant_gvf(), "wt") as fh:
        fh.write(DIRTY_GVF)

    # split parser (the pipeline's reader): per-field degradation — all
    # three rsid-carrying lines survive, the uncastable start is null
    out = pipeline.run_variant_processing(spark, lay, fmt="parquet")
    meta = {r.rsid: r for r in out["metadata"].collect()}
    assert set(meta) == {1, 2, 3}
    assert meta[2].start is None          # BAD start -> null field
    assert meta[3].start == 30            # >9 fields: attr still field 9

    # CSV path: PERMISSIVE nulls malformed fields and quarantines the
    # raw line; split_corrupt isolates exactly the two dirty lines
    good, bad = split_corrupt(
        read_gvf(spark, lay.variant_gvf_glob(), capture_corrupt=True)
    )
    bad_lines = {r._corrupt for r in bad.collect()}
    # quarantined: uncastable start, >9 fields, truncated line —
    # PERMISSIVE marks under-length rows malformed too
    assert len(bad_lines) == 3
    assert any("BAD" in b for b in bad_lines)
    assert any(b.endswith("EXTRA") for b in bad_lines)
    assert good.count() == 1  # only the clean line parses whole


def test_read_table_memo_on_session_and_refresh(spark):
    from eggv_spark.sources import readers

    SF_DIR = "/root/testdata/sf0.001"
    a = readers.read_table(spark, SF_DIR, "region")
    assert readers.read_table(spark, SF_DIR, "region") is a
    # the memo lives ON the session (no module-level map to leak)
    assert f"{SF_DIR}/region.parquet" in spark._eggv_table_memo
    readers.refresh_table(spark, SF_DIR, "region")
    b = readers.read_table(spark, SF_DIR, "region")
    assert b is not a
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, a.collect()))


def test_read_table_memo_reasserts_nanos_conf(spark):
    """A memo hit for a nanos-timestamp table re-asserts the
    nanosAsLong conf even if something reset it between calls."""
    from eggv_spark.sources import readers

    SF_DIR = "/root/testdata/sf0.001"
    key = "spark.sql.legacy.parquet.nanosAsLong"
    df = readers.read_table(spark, SF_DIR, "events")
    n = df.count()
    hit = (f"{SF_DIR}/events.parquet", )
    entry = spark._eggv_table_memo.get(hit[0])
    assert entry is not None
    if not entry[1]:
        pytest.skip("events table is not nanos-typed in this layout")
    spark.conf.set(key, "false")
    again = readers.read_table(spark, SF_DIR, "events")
    assert spark.conf.get(key) == "true"
    assert again.count() == n
