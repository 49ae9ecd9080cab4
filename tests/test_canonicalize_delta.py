"""Incremental (delta) canonicalization (round-4 VERDICT item 2):
an appended corpus must re-pay the Arrow shingle/MinHash kernel only
for parts whose content changed, reuse persisted signatures and prior
verified edges everywhere else, and still produce outputs equal to a
from-scratch recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spinneret_spark import pipeline
from spinneret_spark.sinks import tables as sinks
from spinneret_spark.sources.corpusgen import generate_pages
from spinneret_spark.streaming.incremental import process_micro_batch

BUCKETS = 16


def _table_snapshot(spark, root):
    """Sorted content of the three canonical outputs, part_id-free."""
    out = {}
    for tbl, cols in [
        ("edges", ["id_a", "id_b"]),
        ("entities", ["canonical_id", "n_members"]),
        ("triples_canonical", ["subj", "pred_id", "obj_id"]),
    ]:
        if pipeline._partition_ids(root, tbl):
            rows = (
                sinks.read_table(spark, root, tbl)
                .select(*cols)
                .collect()
            )
            out[tbl] = sorted(tuple(r) for r in rows)
        else:
            out[tbl] = []
    return out


def test_delta_canonicalize_reshingles_only_changed_parts_and_matches_scratch(
    spark, tmp_path_factory
):
    root = str(tmp_path_factory.mktemp("canon_delta"))
    pages = generate_pages(
        spark, 300, near_dup_fraction=0.25, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=BUCKETS)

    # run 1: no snapshot exists → full path, which persists
    # signatures + the per-part state tokens
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)
    assert s1["delta"] is False
    assert s1["parts_reshingled"] == s1["parts_total"] > 0
    assert pipeline._partition_ids(root, "canon_signatures")
    snap = sinks.latest_canon_state(spark, root)
    assert snap is not None and snap["parts"]

    # corpus growth arrives via streaming (batch resume skips
    # committed parts by design): 20 genuinely new pages
    new_pages = generate_pages(
        spark, 320, near_dup_fraction=0.25, include_reference_eml=False
    ).where(F.col("page_id") >= 300)
    assert new_pages.count() == 20
    process_micro_batch(new_pages, 0, root, "s1", buckets=BUCKETS)
    changed_parts = {
        r["part_id"]
        for r in new_pages.select(
            F.pmod(F.xxhash64("url"), F.lit(BUCKETS)).cast("int").alias(
                "part_id"
            )
        )
        .distinct()
        .collect()
    }
    assert 0 < len(changed_parts) < s1["parts_total"]

    # run 2: delta — exactly the streamed-into parts re-shingled
    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert s2["delta"] is True
    assert s2["parts_reshingled"] == len(changed_parts)
    assert s2["parts_total"] >= s1["parts_total"]
    got = _table_snapshot(spark, root)
    assert got["edges"] and got["entities"] and got["triples_canonical"]

    # the delta path's audit trail: lineage rows name exactly the
    # changed parts as re-shingled for run c2
    lineage = spark.read.parquet(sinks.lineage_path(root))
    reshingled = {
        r["part_id"]
        for r in lineage.filter(
            (F.col("run_id") == "c2")
            & (F.col("stage") == "canonicalize:reshingle")
        )
        .select("part_id")
        .collect()
    }
    assert reshingled == changed_parts

    # run 3: forced from-scratch recompute must agree exactly
    s3 = pipeline.run_canonicalize_phase(
        spark, root, "c3", buckets=BUCKETS, incremental=False
    )
    assert s3["delta"] is False
    want = _table_snapshot(spark, root)
    assert got == want
    assert (s2["n_entities"], s2["n_edges"], s2["n_canonical_triples"]) == (
        s3["n_entities"], s3["n_edges"], s3["n_canonical_triples"]
    )

    # run 4: nothing changed since c3's snapshot → zero parts pay the
    # kernel, outputs identical
    s4 = pipeline.run_canonicalize_phase(spark, root, "c4", buckets=BUCKETS)
    assert s4["delta"] is True
    assert s4["parts_reshingled"] == 0
    assert _table_snapshot(spark, root) == want


def test_full_delta_scratch_cycle_agrees(spark, tmp_path_factory):
    """The two-wave commit ordering and IVM equality over one cycle: a
    full run, an additive streamed delta and a forced scratch run must
    all agree."""
    root = str(tmp_path_factory.mktemp("canon_cycle"))
    pages = generate_pages(
        spark, 300, near_dup_fraction=0.25, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=BUCKETS)
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)
    assert s1["delta"] is False

    new_pages = generate_pages(
        spark, 320, near_dup_fraction=0.25, include_reference_eml=False
    ).where(F.col("page_id") >= 300)
    process_micro_batch(new_pages, 0, root, "s1", buckets=BUCKETS)
    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert s2["delta"] is True
    got = _table_snapshot(spark, root)

    s3 = pipeline.run_canonicalize_phase(
        spark, root, "c3", buckets=BUCKETS, incremental=False
    )
    assert _table_snapshot(spark, root) == got
    assert (s2["n_entities"], s2["n_edges"], s2["n_canonical_triples"]) == (
        s3["n_entities"], s3["n_edges"], s3["n_canonical_triples"]
    )


def test_parameter_change_falls_back_to_full(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("canon_params"))
    pages = generate_pages(
        spark, 120, near_dup_fraction=0.3, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=4)
    s1 = pipeline.run_canonicalize_phase(
        spark, root, "c1", jaccard_threshold=0.5, buckets=4
    )
    assert s1["delta"] is False
    # same threshold → delta; different threshold → the persisted
    # edges' verdicts are invalid, full recompute
    s2 = pipeline.run_canonicalize_phase(
        spark, root, "c2", jaccard_threshold=0.5, buckets=4
    )
    assert s2["delta"] is True and s2["parts_reshingled"] == 0
    s3 = pipeline.run_canonicalize_phase(
        spark, root, "c3", jaccard_threshold=0.9, buckets=4
    )
    assert s3["delta"] is False
    assert s3["parts_reshingled"] == s3["parts_total"]


def _output_files(root):
    import glob
    import os

    return {
        tbl: sorted(
            glob.glob(os.path.join(root, tbl, "part_id=*", "*.parquet"))
        )
        for tbl in ("edges", "entities", "triples_canonical")
    }


def test_zero_change_short_circuit_skips_rewrite(spark, tmp_path_factory):
    """A rerun with zero changed parts must not touch the output
    tables at all — manifest + footer-count reads only (the
    zero-change floor was ~19 s at 400k before this)."""
    root = str(tmp_path_factory.mktemp("canon_sc"))
    pages = generate_pages(
        spark, 200, near_dup_fraction=0.3, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=BUCKETS)
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)
    files_before = _output_files(root)

    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert s2.get("short_circuit") is True
    assert s2["delta"] is True and s2["parts_reshingled"] == 0
    assert (s2["n_entities"], s2["n_edges"], s2["n_canonical_triples"]) == (
        s1["n_entities"], s1["n_edges"], s1["n_canonical_triples"]
    )
    # a rewrite would produce fresh part-file names; identical listings
    # prove the tables were never written
    assert _output_files(root) == files_before


def test_short_circuit_integrity_guard_self_heals(spark, tmp_path_factory):
    """A previously crashed zero-change overwrite (simulated by a
    missing output part file) must NOT be certified by the
    short-circuit: the count-vs-manifest check fails and the normal
    path rebuilds the outputs from persisted signatures."""
    import os

    root = str(tmp_path_factory.mktemp("canon_heal"))
    pages = generate_pages(
        spark, 200, near_dup_fraction=0.3, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=BUCKETS)
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)

    victim = _output_files(root)["entities"][0]
    os.remove(victim)

    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert "short_circuit" not in s2
    assert s2["delta"] is True and s2["parts_reshingled"] == 0
    assert (s2["n_entities"], s2["n_edges"], s2["n_canonical_triples"]) == (
        s1["n_entities"], s1["n_edges"], s1["n_canonical_triples"]
    )
    # healed: a fresh rerun may short-circuit again
    s3 = pipeline.run_canonicalize_phase(spark, root, "c3", buckets=BUCKETS)
    assert s3.get("short_circuit") is True


def test_edges_victim_heal_rebuilds_edges_from_signatures(
    spark, tmp_path_factory
):
    """A corrupted EDGES table must not be recycled by the heal run:
    the kept-edge reuse and the asymmetric candidate join both skip
    unchanged-unchanged pairs by design, so a heal that trusts either
    would certify the partial edges forever (ADVICE r5, high). The
    repair must rebuild edges from the persisted signatures via the
    full symmetric band join."""
    import os

    root = str(tmp_path_factory.mktemp("canon_heal_edges"))
    pages = generate_pages(
        spark, 200, near_dup_fraction=0.3, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=BUCKETS)
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)
    before = _table_snapshot(spark, root)
    assert s1["n_edges"] > 0

    victim = _output_files(root)["edges"][0]
    os.remove(victim)

    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert "short_circuit" not in s2
    assert s2["n_edges"] == s1["n_edges"]
    assert _table_snapshot(spark, root) == before
    s3 = pipeline.run_canonicalize_phase(spark, root, "c3", buckets=BUCKETS)
    assert s3.get("short_circuit") is True


def test_delta_path_detects_partial_edges_and_heals(
    spark, tmp_path_factory
):
    """ADVICE r5 (high): a crash during the output write wave leaves a
    partial edges table with the OLD manifest still in force; the next
    run takes the DELTA path (new parts exist, so the zero-change
    probe never fires) and must NOT reuse the partial kept edges —
    the same count-vs-manifest probe has to guard the delta path."""
    import os

    root = str(tmp_path_factory.mktemp("canon_delta_partial"))
    pages = generate_pages(
        spark, 304, near_dup_fraction=0.3, include_reference_eml=False
    )
    base = pages.where(F.col("page_id") < 300)
    pipeline.run_extract_phase(spark, base, root, "e1", buckets=BUCKETS)
    pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)

    # simulate the crashed output wave: one edges file vanishes while
    # the manifest keeps certifying the old counts
    victim = _output_files(root)["edges"][0]
    os.remove(victim)

    # a real increment arrives -> the rerun is a DELTA run
    new_pages = pages.where(F.col("page_id") >= 300)
    process_micro_batch(new_pages, 0, root, "s1", buckets=BUCKETS)
    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert "short_circuit" not in s2

    # ground truth: the same corpus canonicalized from scratch
    root2 = str(tmp_path_factory.mktemp("canon_delta_scratch"))
    pipeline.run_extract_phase(spark, base, root2, "e1", buckets=BUCKETS)
    process_micro_batch(new_pages, 0, root2, "s1", buckets=BUCKETS)
    pipeline.run_canonicalize_phase(spark, root2, "c1", buckets=BUCKETS)
    assert _table_snapshot(spark, root) == _table_snapshot(spark, root2)


def test_integrity_repair_run_disables_partial_paths(
    spark, tmp_path_factory
):
    """The repair fall-through must rewrite WHOLESALE: composed
    assignment and the triple/entity IVM paths skip untouched
    partitions by design, so a corrupted triples_canonical file on an
    otherwise zero-change root would never be repaired by them (the
    previously latent sibling of the entities-victim case above)."""
    import os

    root = str(tmp_path_factory.mktemp("canon_heal_tc"))
    pages = generate_pages(
        spark, 200, near_dup_fraction=0.3, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=BUCKETS)
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=BUCKETS)

    victim = _output_files(root)["triples_canonical"][0]
    os.remove(victim)

    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=BUCKETS)
    assert "short_circuit" not in s2
    # the repair run must not take ANY partial path
    assert s2["assignment"] == "full"
    assert s2["triples_parts_rewritten"] is None
    assert s2["entities_parts_rewritten"] is None
    assert s2["n_canonical_triples"] == s1["n_canonical_triples"]
    s3 = pipeline.run_canonicalize_phase(spark, root, "c3", buckets=BUCKETS)
    assert s3.get("short_circuit") is True


def _canon_part_files(root):
    import glob
    import os

    out = {}
    for d in glob.glob(os.path.join(root, "triples_canonical", "part_id=*")):
        p = int(d.rsplit("=", 1)[1])
        out[p] = sorted(os.listdir(d))
    return out


def test_delta_triple_rewrite_touches_only_affected_canonical_parts(
    spark, tmp_path_factory
):
    """The incremental rewrite must leave every canonical partition no
    changed document contributes to physically untouched — at 100 TB
    the canonical triple table is corpus-sized and rewriting it
    wholesale per run was the last O(corpus) stage of a delta run."""
    # partition-granular maintenance is gated to its win region:
    # changed docs must cover at most half the hash partitions, so the
    # increment here is a handful of pages against a wide bucket count
    B = 32
    root = str(tmp_path_factory.mktemp("canon_tparts"))
    pages = generate_pages(
        spark, 300, near_dup_fraction=0.25, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=B)
    s1 = pipeline.run_canonicalize_phase(spark, root, "c1", buckets=B)
    assert s1["triples_parts_rewritten"] is None  # full path
    files_before = _canon_part_files(root)

    new_pages = generate_pages(
        spark, 304, near_dup_fraction=0.25, include_reference_eml=False
    ).where(F.col("page_id") >= 300)
    process_micro_batch(new_pages, 0, root, "s1", buckets=B)
    s2 = pipeline.run_canonicalize_phase(spark, root, "c2", buckets=B)
    assert s2["delta"] is True
    assert s2["triples_parts_rewritten"] is not None

    files_after = _canon_part_files(root)
    touched = {
        p
        for p in set(files_before) | set(files_after)
        if files_before.get(p) != files_after.get(p)
    }
    assert len(touched) == s2["triples_parts_rewritten"]
    untouched = set(files_before) - touched
    assert untouched, "every canonical partition was rewritten"

    # reported total must equal the real on-disk total
    assert (
        sinks.read_table(spark, root, "triples_canonical").count()
        == s2["n_canonical_triples"]
    )


def test_delta_triple_rewrite_crash_is_idempotent(spark, tmp_path_factory):
    """A delta run crashing between the provenance (canon_triples_raw)
    overwrite and the canonical-triple overwrite must be fully healed
    by the rerun. Since the round-6 delta-path integrity probe
    (ADVICE r5, high) the rerun DETECTS the crashed wave's uncertified
    outputs (footer counts vs manifest) and repairs wholesale — no
    partial path may recycle them."""
    B = 32
    root = str(tmp_path_factory.mktemp("canon_crash"))
    pages = generate_pages(
        spark, 300, near_dup_fraction=0.25, include_reference_eml=False
    )
    pipeline.run_extract_phase(spark, pages, root, "e1", buckets=B)
    pipeline.run_canonicalize_phase(spark, root, "c1", buckets=B)
    new_pages = generate_pages(
        spark, 304, near_dup_fraction=0.25, include_reference_eml=False
    ).where(F.col("page_id") >= 300)
    process_micro_batch(new_pages, 0, root, "s1", buckets=B)

    real = sinks.write_partitioned
    state = {"armed": True}

    def crashing(df, r, table_name, **kw):
        if (
            state["armed"]
            and table_name == "triples_canonical"
            and not kw.get("full_overwrite", False)
        ):
            # raw is already overwritten at this point in the phase
            raise RuntimeError("crash between raw and canonical write")
        return real(df, r, table_name, **kw)

    import pytest as _pytest

    pipeline.sinks.write_partitioned = crashing
    try:
        with _pytest.raises(RuntimeError):
            pipeline.run_canonicalize_phase(spark, root, "c2", buckets=B)
    finally:
        pipeline.sinks.write_partitioned = real
        state["armed"] = False

    s3 = pipeline.run_canonicalize_phase(spark, root, "c3", buckets=B)
    # the crashed wave rewrote edges without committing accounting, so
    # the rerun's integrity probe must refuse every partial path
    assert s3["delta"] is True and s3["triples_parts_rewritten"] is None
    got = _table_snapshot(spark, root)
    s4 = pipeline.run_canonicalize_phase(
        spark, root, "c4", buckets=B, incremental=False
    )
    assert _table_snapshot(spark, root) == got
    assert (s3["n_entities"], s3["n_edges"], s3["n_canonical_triples"]) == (
        s4["n_entities"], s4["n_edges"], s4["n_canonical_triples"]
    )

