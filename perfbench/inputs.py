"""Benchmark inputs: seeded page tables plus what the outputs must be.

Every input is a pure function of (workload, seed, scale).  The pages come
from the package's own generator (``rs_trafilatura_spark.datagen``), which
builds each page's golden ``text`` from the template's content blocks, not
by running the kernel, so the golden text is an independent expectation.

Two choices keep runs with different seeds comparable:

- **Fixed family counts.**  The small-page mix draws each page's family at
  random, and one family (``huge_page``, ~0.5 MB) costs as much as a
  hundred ordinary pages.  Left to chance, the number of huge pages per
  run would swing the cost of a run by about ten per cent.  So each family
  gets a fixed quota (its weight share of the pages, largest remainder
  rounding) and the seed only decides which pages fill it.
- **Fixed file layout.**  Pages are sorted by family and dealt round-robin
  into a fixed number of parquet files of one row group each, so every
  file carries the same family mix and every run has the same task count.

Generated inputs are cached under the work directory and never modified
by the program; only the few most recent are kept.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field

INPUT_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
# bump when anything below changes the pages a seed produces
LAYOUT_VERSION = 4
KEEP_CACHED = 4

# (pages, files) at scale 1.0; the injected copies come on top of the
# curate_dups base pages
SIZES = {
    "extract_mix": (1200, 8),
    "extract_large": (128, 16),
    "curate_dups": (1200, 8),
}
# The shares of injected copies are an assumption of this benchmark, not a
# measured property of web crawls: large enough that every curation tier
# has work at 1,200 pages, small enough that the copies stay a minority.
MIRROR_SHARE = 0.05  # exact mirrors: same HTML, new url
NEAR_SHARE = 0.05  # near copies: words of the text replaced
# Target 3-word-shingle Jaccard of the near copies, dealt in turn.  The
# LSH tier (16 bands of 4 rows) makes a pair at J = 0.88 a candidate with
# probability 1 - 4e-7, so the two high levels must be found; a pair at
# J = 0.65 is a candidate with probability ~0.96 and must be rejected by
# the exact verify.  Each level accepts a copy only inside its range.
NEAR_LEVELS = ((0.95, 0.93, 1.0), (0.90, 0.88, 0.93), (0.65, 0.6, 0.7))
# replacement words outside the generator's vocabulary
EDIT_WORDS = ("zircon", "basalt", "cobalt", "garnet", "jasper", "marble",
              "quartz", "topaz")
# copies are taken from long plain articles, which the curation gates keep
COPY_FAMILY = "article_plain"
COPY_MIN_CHARS = 600
# families whose expected stage is not held: on a few seeds a listing page
# comes back with stage "main" instead of "repeated_items" while its text
# still equals the golden text (see CHANGES.md, FOUND)
STAGE_UNCHECKED = {"listing_page"}


@dataclass
class Inputs:
    """A generated input table and the outputs it must produce."""

    pages_dir: str
    files: list[str]
    golden: dict[str, str]  # url -> golden content_text
    exp_stage: dict[str, str] = field(default_factory=dict)  # small pages
    mirrors: list[str] = field(default_factory=list)  # curate only
    near_pairs: list[tuple[str, str]] = field(default_factory=list)

    @property
    def n_pages(self) -> int:
        return len(self.golden)


def sizes(workload: str, scale: float) -> tuple[int, int]:
    n, files = SIZES[workload]
    n = max(files * 4, int(round(n * scale)))
    return n, files


def _quotas(n: int) -> dict[str, int]:
    from rs_trafilatura_spark.datagen import corpus

    total = sum(w for _, w in corpus._FAMILIES)
    exact = {f: n * w / total for f, w in corpus._FAMILIES}
    quota = {f: int(x) for f, x in exact.items()}
    by_remainder = sorted(exact, key=lambda f: quota[f] - exact[f])
    for f in by_remainder[: n - sum(quota.values())]:
        quota[f] += 1
    return quota


def _predicted_family(i: int, seed: int) -> str:
    """The family ``generate_row(i, seed)`` will draw: its first random
    draw.  Lets the quota sampler skip rows without rendering them; the
    rendered row's family is checked against it."""
    from rs_trafilatura_spark.datagen import corpus

    rnd = random.Random(f"{seed}:{i}")
    return rnd.choices(corpus._FAMILY_NAMES, weights=corpus._FAMILY_WEIGHTS,
                       k=1)[0]


def large_rows(n: int, seed: int) -> list[dict]:
    from rs_trafilatura_spark.datagen.corpus import generate_large_row

    rows = [generate_large_row(i, seed) for i in range(n)]
    for r in rows:
        r["family"], r["exp_stage"] = "large", None
    return rows


def mix_rows(n: int, seed: int) -> list[dict]:
    """``n`` small-mix pages with exactly the quota of each family."""
    from rs_trafilatura_spark.datagen.corpus import generate_row

    quota = _quotas(n)
    ids, fams = [], []
    i = 0
    while len(ids) < n:
        fam = _predicted_family(i, seed)
        if quota[fam] > 0:
            quota[fam] -= 1
            ids.append(i)
            fams.append(fam)
        i += 1
    rows = [generate_row(i, seed) for i in ids]
    if fams != [r["family"] for r in rows]:
        raise RuntimeError("generator family draw changed; "
                           "update _predicted_family")
    return rows


def _edit_words(paras: list[str], n_edits: int) -> list[str]:
    """``paras`` with ``n_edits`` words, evenly spaced over the text,
    replaced by words outside the generator's vocabulary (capitals and a
    trailing full stop kept)."""
    words = [p.split(" ") for p in paras]
    flat = [(i, j) for i, ws in enumerate(words) for j in range(len(ws))]
    for k in range(n_edits):
        i, j = flat[int((k + 0.5) * len(flat) / n_edits)]
        old, new = words[i][j], EDIT_WORDS[k % len(EDIT_WORDS)]
        if old[:1].isupper():
            new = new.capitalize()
        words[i][j] = new + old[len(old.rstrip(".")):]
    return [" ".join(ws) for ws in words]


def near_copy(src: dict, target: float, lo: float, hi: float) -> dict | None:
    """A copy of ``src`` whose text has a 3-word-shingle Jaccard with the
    source's of about ``target``, edited in the HTML and the golden text
    alike; None when the result falls outside ``[lo, hi)`` or a paragraph
    does not occur exactly once in the HTML."""
    from .checks import jaccard

    paras = src["text"].split("\n\n")
    tags = [f"<p>{p}</p>".encode("utf-8") for p in paras]
    if any(src["html"].count(t) != 1 for t in tags):
        return None
    # an edit away from the ends changes 3 of the ~W shingles on each side
    n_shingles = len(src["text"].split()) - 2
    n_edits = max(1, round(n_shingles * (1 - target) / (3 * (1 + target))))
    edited = _edit_words(paras, n_edits)
    html = src["html"]
    for tag, p in zip(tags, edited):
        html = html.replace(tag, f"<p>{p}</p>".encode("utf-8"))
    text = "\n\n".join(edited)
    if not lo <= jaccard(src["text"], text) < hi:
        return None
    return dict(src, url=src["url"] + "-near", html=html, text=text)


def inject_copies(rows: list[dict], seed: int) -> tuple[list[dict], list[str],
                                                        list[tuple[str, str]]]:
    """Add exact mirrors and near copies of long plain articles.

    A mirror keeps the HTML byte for byte under ``<url>-mirror``, which
    sorts after its source, so exact dedup (first url wins) must drop
    the mirror.  Near copies (``<url>-near``) take the levels of
    NEAR_LEVELS in turn."""
    rnd = random.Random(f"perfbench:copies:{seed}")
    eligible = [r for r in rows if r["family"] == COPY_FAMILY
                and len(r["text"]) >= COPY_MIN_CHARS]
    rnd.shuffle(eligible)
    n_mirror = int(round(len(rows) * MIRROR_SHARE))
    n_near = int(round(len(rows) * NEAR_SHARE))
    if len(eligible) < n_mirror + n_near:
        raise RuntimeError("too few long articles to copy")
    copies, mirrors, near = [], [], []
    for src in eligible[:n_mirror]:
        copies.append(dict(src, url=src["url"] + "-mirror"))
        mirrors.append(src["url"] + "-mirror")
    for src in eligible[n_mirror:]:
        if len(near) == n_near:
            break
        copy = near_copy(src, *NEAR_LEVELS[len(near) % len(NEAR_LEVELS)])
        if copy is not None:
            copies.append(copy)
            near.append((src["url"], copy["url"]))
    if len(near) < n_near:
        raise RuntimeError("too few articles to make near copies of")
    return rows + copies, mirrors, near


def _write(rows: list[dict], pages_dir: str, n_files: int) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(pages_dir)
    ordered = sorted(rows, key=lambda r: (r["family"], r["url"]))
    files = []
    for k in range(n_files):
        part = ordered[k::n_files]
        table = pa.table({c: [r[c] for r in part] for c in INPUT_COLUMNS},
                         schema=schema)
        path = os.path.join(pages_dir, f"part-{k:03d}.parquet")
        pq.write_table(table, path, row_group_size=len(part))
        files.append(path)
    return files


def _prune(cache: str, keep: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache, d)), d) for d in os.listdir(cache)
    )
    for _, d in entries[:-KEEP_CACHED]:
        if d != keep:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def prepare(workload: str, seed: int, scale: float, work: str) -> Inputs:
    """Generate (or load from cache) the inputs of one workload run."""
    from rs_trafilatura_spark.datagen import corpus

    n, n_files = sizes(workload, scale)
    key = (f"{workload}-n{n}-f{n_files}-s{seed}-l{LAYOUT_VERSION}"
           f"-g{corpus.GENERATOR_VERSION}.{corpus.LARGE_GENERATOR_VERSION}")
    cache = os.path.join(work, "inputs")
    root = os.path.join(cache, key)
    meta_path = os.path.join(root, "expected.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(root, ignore_errors=True)
        mirrors, near = [], []
        if workload == "extract_large":
            rows = large_rows(n, seed)
        else:
            rows = mix_rows(n, seed)
        if workload == "curate_dups":
            rows, mirrors, near = inject_copies(rows, seed)
        files = _write(rows, os.path.join(root, "pages"), n_files)
        meta = {
            "files": [os.path.basename(p) for p in files],
            "golden": {r["url"]: r["text"] for r in rows},
            "exp_stage": ({r["url"]: r["exp_stage"] for r in rows
                           if r["family"] not in STAGE_UNCHECKED}
                          if workload != "extract_large" else {}),
            "mirrors": mirrors,
            "near_pairs": near,
        }
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    else:
        os.utime(root)
    _prune(cache, key)
    with open(meta_path) as f:
        meta = json.load(f)
    pages_dir = os.path.join(root, "pages")
    return Inputs(
        pages_dir=pages_dir,
        files=[os.path.join(pages_dir, os.path.basename(p))
               for p in meta["files"]],
        golden=meta["golden"],
        exp_stage=meta["exp_stage"],
        mirrors=meta["mirrors"],
        near_pairs=[tuple(p) for p in meta["near_pairs"]],
    )


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
