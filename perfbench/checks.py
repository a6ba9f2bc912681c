"""Output checks, computed apart from the program under test.

Each checker compares what a pass returned with expectations the
benchmark derives on its own: the generator's golden text, the expected
stage of each small page (on extraction and curation alike), the
injected duplicate sets and a word-shingle Jaccard of the golden texts.
None of them reads a stored copy of earlier output.

A checker returns a :class:`Verdict`: the urls of pages that failed a
check (a page that comes back with ``stage = "error"`` fails too) and
problems that belong to no single page, such as a missing manifest chunk.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from .inputs import Inputs, sha256

NEAR_THRESHOLD = 0.8  # mark_near_duplicates' default Jaccard cut (x1000 = 800)
# pairs this close to the cut are not held to either outcome: the verify
# step's shingles differ in detail from the benchmark's own
NEAR_MARGIN = 0.05


@dataclass
class Verdict:
    failed: set[str] = field(default_factory=set)
    problems: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failed and not self.problems

    def fail(self, url: str, why: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(f"{url}: {why}")
        self.failed.add(url)


def _once(urls: list[str], inp: Inputs, verdict: Verdict) -> None:
    """Every input url comes back exactly once, and nothing else does."""
    counts = Counter(urls)
    for url in inp.golden:
        if counts[url] != 1:
            verdict.fail(url, f"returned {counts[url]} times")
    extra = set(counts) - set(inp.golden)
    if extra:
        verdict.problems.append(f"{len(extra)} urls not in the input, "
                                f"e.g. {sorted(extra)[0]}")


def _stage_ok(url: str, stage: str, inp: Inputs, verdict: Verdict) -> bool:
    """The page did not error and, where one is expected, has the
    generator's expected stage."""
    if stage == "error":
        verdict.fail(url, "stage is error")
        return False
    if url in inp.exp_stage and stage != inp.exp_stage[url]:
        verdict.fail(url, f"stage {stage!r}, expected {inp.exp_stage[url]!r}")
        return False
    return True


def check_extraction(rows: list[tuple[str, str, str]], inp: Inputs) -> Verdict:
    """``rows``: (url, stage, sha256 of content_text) per output row."""
    verdict = Verdict()
    _once([r[0] for r in rows], inp, verdict)
    for url, stage, text_sha in rows:
        if url in inp.golden and _stage_ok(url, stage, inp, verdict) and (
                text_sha != sha256(inp.golden[url])):
            verdict.fail(url, "content_text differs from the golden text")
    return verdict


def check_manifest(entries: list[dict], n_chunks: int, n_pages: int,
                   verdict: Verdict) -> None:
    """The checkpoint manifest lists every chunk once, each with as many
    output rows as input rows, and the rows add up to the input count."""
    ids = sorted(int(e["chunk_id"]) for e in entries)
    if ids != list(range(n_chunks)):
        verdict.problems.append(f"manifest chunks {ids}, expected "
                                f"0..{n_chunks - 1}")
    for e in entries:
        if e.get("rows") != e.get("input_rows"):
            verdict.problems.append(f"chunk {e.get('chunk_id')}: rows "
                                    f"{e.get('rows')} != input_rows "
                                    f"{e.get('input_rows')}")
    total = sum(int(e.get("rows", 0)) for e in entries)
    if total != n_pages:
        verdict.problems.append(f"manifest rows sum to {total}, "
                                f"expected {n_pages}")


def shingles(text: str, k: int = 3) -> set[str]:
    words = text.split()
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def check_curation(rows: list[tuple[str, str, str | None]],
                   inp: Inputs) -> Verdict:
    """``rows``: (url, stage, drop_reason) per curated output row."""
    verdict = Verdict()
    _once([r[0] for r in rows], inp, verdict)
    reason = {url: drop for url, _, drop in rows}
    for url, stage, _ in rows:
        _stage_ok(url, stage, inp, verdict)

    mirrors = set(inp.mirrors)
    for url, drop in reason.items():
        if (drop == "exact_duplicate") != (url in mirrors):
            verdict.fail(url, f"drop_reason {drop!r}, mirror={url in mirrors}")

    in_pairs = set()
    for a, b in inp.near_pairs:
        in_pairs.update((a, b))
        j = jaccard(inp.golden[a], inp.golden[b])
        losers = sum(reason.get(u) == "near_duplicate" for u in (a, b))
        if j >= NEAR_THRESHOLD + NEAR_MARGIN and losers != 1:
            verdict.fail(b, f"near pair (J={j:.3f}) lost {losers} members")
        elif j < NEAR_THRESHOLD - NEAR_MARGIN and losers:
            verdict.fail(b, f"distinct pair (J={j:.3f}) lost {losers} members")
    for url, drop in reason.items():
        if drop == "near_duplicate" and url not in in_pairs:
            verdict.fail(url, "near_duplicate outside the injected pairs")
    return verdict
