"""The output checkers accept right answers and reject planted faults.

These run without Spark: the "outputs" are built from the generator's own
expectations, then one fault is planted in them.
"""

from __future__ import annotations

import pytest

from perfbench import checks, inputs
from perfbench.inputs import Inputs, sha256


@pytest.fixture(scope="module")
def mix():
    rows = inputs.mix_rows(160, seed=5)
    return Inputs(
        pages_dir="", files=[],
        golden={r["url"]: r["text"] for r in rows},
        exp_stage={r["url"]: r["exp_stage"] for r in rows},
    )


@pytest.fixture(scope="module")
def dups():
    rows = inputs.mix_rows(400, seed=6)
    rows, mirrors, near = inputs.inject_copies(rows, seed=6)
    return Inputs(pages_dir="", files=[],
                  golden={r["url"]: r["text"] for r in rows},
                  exp_stage={r["url"]: r["exp_stage"] for r in rows},
                  mirrors=mirrors, near_pairs=near)


def pair_jaccard(inp, pair):
    a, b = pair
    return checks.jaccard(inp.golden[a], inp.golden[b])


def right_extraction(inp):
    return [(u, inp.exp_stage[u], sha256(t)) for u, t in inp.golden.items()]


def right_curation(inp):
    reason = {u: None for u in inp.golden}
    for u in inp.mirrors:
        reason[u] = "exact_duplicate"
    for pair in inp.near_pairs:
        if pair_jaccard(inp, pair) >= checks.NEAR_THRESHOLD:
            reason[pair[1]] = "near_duplicate"
    return [(u, inp.exp_stage[u], r) for u, r in reason.items()]


def test_quotas_fix_the_family_mix():
    counts = [
        sorted((f, sum(r["family"] == f for r in rows)) for f in
               {r["family"] for r in rows})
        for rows in (inputs.mix_rows(132, s) for s in (1, 2))
    ]
    assert counts[0] == counts[1]


def test_extraction_accepts_the_golden_output(mix):
    assert checks.check_extraction(right_extraction(mix), mix).ok


def test_extraction_rejects_an_altered_content_text(mix):
    rows = right_extraction(mix)
    url, stage, _ = rows[3]
    rows[3] = (url, stage, sha256(mix.golden[url] + " extra"))
    verdict = checks.check_extraction(rows, mix)
    assert verdict.failed == {url}


def test_extraction_rejects_missing_duplicate_and_error_rows(mix):
    rows = right_extraction(mix)
    lost, doubled = rows[0][0], rows[1]
    errored = rows[2][0]
    rows = rows[1:] + [doubled]
    rows[1] = (errored, "error", rows[1][2])
    verdict = checks.check_extraction(rows, mix)
    assert verdict.failed == {lost, doubled[0], errored}


def test_extraction_rejects_a_wrong_stage(mix):
    rows = right_extraction(mix)
    url, _, sha = rows[5]
    rows[5] = (url, "fallback", sha)
    assert checks.check_extraction(rows, mix).failed == {url}


def manifest(n_chunks, n_pages):
    per = [n_pages // n_chunks] * n_chunks
    per[0] += n_pages - sum(per)
    return [{"chunk_id": k, "rows": r, "input_rows": r}
            for k, r in enumerate(per)]


def test_manifest_accepts_a_complete_manifest():
    verdict = checks.Verdict()
    checks.check_manifest(manifest(4, 100), 4, 100, verdict)
    assert verdict.ok


def test_manifest_rejects_a_missing_chunk():
    verdict = checks.Verdict()
    checks.check_manifest(manifest(4, 100)[1:], 4, 100, verdict)
    assert not verdict.ok and "manifest chunks" in verdict.problems[0]


def test_manifest_rejects_lost_rows():
    entries = manifest(2, 10)
    entries[1]["rows"] -= 1
    verdict = checks.Verdict()
    checks.check_manifest(entries, 2, 10, verdict)
    assert len(verdict.problems) == 2


def test_near_copies_take_every_level_and_others_are_far(dups):
    js = [pair_jaccard(dups, p) for p in dups.near_pairs]
    for k, (_, lo, hi) in enumerate(inputs.NEAR_LEVELS):
        assert all(lo <= j < hi for j in js[k::len(inputs.NEAR_LEVELS)])
    held = checks.NEAR_THRESHOLD + checks.NEAR_MARGIN
    distinct = checks.NEAR_THRESHOLD - checks.NEAR_MARGIN
    assert any(j >= held for j in js) and any(j < distinct for j in js)
    urls = sorted(dups.golden)
    assert checks.jaccard(dups.golden[urls[0]], dups.golden[urls[1]]) < 0.5


def test_curation_accepts_the_expected_outcomes(dups):
    assert checks.check_curation(right_curation(dups), dups).ok


def test_curation_rejects_an_extra_near_duplicate(dups):
    rows = right_curation(dups)
    in_pairs = {u for p in dups.near_pairs for u in p}
    i = next(i for i, r in enumerate(rows)
             if r[2] is None and r[0] not in in_pairs)
    rows[i] = (rows[i][0], rows[i][1], "near_duplicate")
    assert checks.check_curation(rows, dups).failed == {rows[i][0]}


def test_curation_rejects_a_marked_distinct_pair(dups):
    rows = right_curation(dups)
    _, b = next(p for p in dups.near_pairs
                if pair_jaccard(dups, p) < checks.NEAR_THRESHOLD)
    rows = [(u, s, "near_duplicate" if u == b else r) for u, s, r in rows]
    assert checks.check_curation(rows, dups).failed == {b}


def test_curation_rejects_a_wrong_stage(dups):
    rows = right_curation(dups)
    url, _, reason = rows[7]
    rows[7] = (url, "fallback", reason)
    assert checks.check_curation(rows, dups).failed == {url}


def test_curation_rejects_a_pair_that_loses_both_members(dups):
    rows = right_curation(dups)
    a, _ = next(p for p in dups.near_pairs
                if pair_jaccard(dups, p) >= checks.NEAR_THRESHOLD)
    rows = [(u, s, "near_duplicate" if u == a else r) for u, s, r in rows]
    assert not checks.check_curation(rows, dups).ok


def test_curation_rejects_an_unmarked_mirror(dups):
    rows = right_curation(dups)
    mirror = dups.mirrors[0]
    rows = [(u, s, None if u == mirror else r) for u, s, r in rows]
    assert checks.check_curation(rows, dups).failed == {mirror}


def test_held_memory_counts_the_heap_at_what_is_retained():
    from perfbench import procstat

    samples = [{"jvm": 2500.0, "python": 700.0},
               {"jvm": 2400.0, "python": 900.0}]
    peak = procstat.held_peaks(samples, retained=300.0, committed=2048.0)
    assert peak == {"total": 3300.0 - 1748.0, "jvm": 2500.0 - 1748.0,
                    "python": 900.0}


def test_full_collections_are_read_from_the_gc_log(tmp_path):
    from perfbench import procstat

    log = tmp_path / "gc.log"
    log.write_text(
        "[1700000000000ms] Using G1\n"
        "[1700000000500ms] GC(0) Pause Young (Normal) (G1 Evacuation Pause)"
        " 110M->12M(2048M) 3.100ms\n"
        "[1700000001000ms] GC(1) Pause Full (System.gc()) 1G->512K(2G)"
        " 20.000ms\n")
    assert procstat.full_gcs(str(log)) == [(0.5, 2048.0)]
