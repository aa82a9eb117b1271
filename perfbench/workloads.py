"""The benchmark's workloads: their inputs, one timed repetition of the
product path, and the checks on what that repetition committed.

Every workload runs the path users run, through each module's public entry
point: ingest (``sources.pages``) → ``plans.extract_plan.run_extract``
(extract, commit, lineage) → ``jobs.corpus_job.build_corpus``, all with
default arguments. Inputs come from ``corpus.generator`` and depend only on
the seed; sizes scale with the number of cores.

- ``crawl_batch``: a crawl batch of several days into an empty warehouse.
  The extractor, the Python workers and the corpus dedup do most of the
  work.
- ``daily_append``: a warehouse of several small extracted days, built
  from the seed untimed at the start of the run and copied afresh for every
  repetition, gets one new day read from ``.warc.gz``. Per-date job,
  commit, lineage and resume overhead dominate, and ``run_extract``
  re-extracts every date because its resume key is the table-wide pages
  snapshot.
"""

from __future__ import annotations

import gzip
import hashlib
import pathlib
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from pdf_extractor_spark.corpus import generator
from pdf_extractor_spark.corpus.build import PAGES_SCHEMA, rows_to_pages_table
from pdf_extractor_spark.tables.icetable import IceTable

# Row-group size of the ingest parquet. With Spark's split size
# (spark.sql.files.maxPartitionBytes, set in run.py) it gives every
# per-date extract job several tasks per core, the regime a large crawl is
# always in; with one row group per file each date would run on one task.
ROW_GROUP_ROWS = 500


@dataclass
class Spec:
    name: str
    days: int  # crawl_batch: days in the batch; daily_append: base days
    pages_per_core: int  # crawl_batch: per batch; daily_append: per day


SPECS = {
    s.name: s
    for s in [
        Spec("crawl_batch", days=2, pages_per_core=500),
        Spec("daily_append", days=2, pages_per_core=40),
    ]
}


@dataclass
class RowPlan:
    """Which generator rows make up a workload's input, as (index, n_days)
    pairs, so any process can regenerate a row exactly. ``base`` rows fill
    the starting warehouse; ``batch`` rows are ingested by every
    repetition."""

    base: list[tuple[int, int]] = field(default_factory=list)
    batch: list[tuple[int, int]] = field(default_factory=list)

    def base_rows(self, seed: int) -> list[generator.PageRow]:
        return [generator.make_row(seed, i, d) for i, d in self.base]

    def batch_rows(self, seed: int) -> list[generator.PageRow]:
        return [generator.make_row(seed, i, d) for i, d in self.batch]

    def fingerprint(self) -> str:
        """Names the input in cache file names: same plan, same rows."""
        blob = repr((self.base, self.batch)).encode()
        return hashlib.sha256(blob).hexdigest()[:12]


def plan_rows(spec: Spec, cores: int) -> RowPlan:
    n = spec.pages_per_core * cores
    if spec.name != "daily_append":
        return RowPlan(batch=[(i, spec.days) for i in range(n)])
    # base: days 0..D-1; the new day: the rows whose index puts them on
    # day D of a (D+1)-day crawl, numbered after the base rows
    base_n = spec.days * n
    d1 = spec.days + 1
    return RowPlan(
        base=[(i, spec.days) for i in range(base_n)],
        batch=[(i, d1) for i in range(base_n, base_n + n * d1)
               if i % d1 == spec.days],
    )


def write_parquet(rows: list[generator.PageRow], path: pathlib.Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with pq.ParquetWriter(path, PAGES_SCHEMA, compression="zstd") as w:
        for i in range(0, len(rows), ROW_GROUP_ROWS):
            w.write_table(rows_to_pages_table(rows[i : i + ROW_GROUP_ROWS]))


# --- correctness ----------------------------------------------------------

_MOD = 1 << 256


def row_hash(url: str, doc_type: str, text: str) -> int:
    h = hashlib.sha256()
    for part in (url, doc_type, text):
        h.update(part.encode("utf-8", "surrogatepass"))
        h.update(b"\x00")
    return int.from_bytes(h.digest(), "big")


def multiset_digest(hashes) -> str:
    """Order-independent digest of a multiset: count and sum of hashes."""
    n, acc = 0, 0
    for h in hashes:
        n += 1
        acc = (acc + h) % _MOD
    return f"{n}:{acc:064x}"


def spec_hashes(seed: int, part: list[tuple[int, int]]) -> list[int]:
    """``ref_extractor.extract`` over regenerated rows (a worker-pool task)."""
    from pdf_extractor_spark.ref_extractor import extract

    out = []
    for i, d in part:
        r = generator.make_row(seed, i, d)
        res = extract(r.html)
        out.append(row_hash(r.url, res.doc_type, res.text))
    return out


def committed_digest(extracted: IceTable) -> str:
    hashes = []
    for f in extracted.files():
        t = pq.read_table(f, columns=["url", "doc_type", "extracted_text"])
        for u, d, x in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            hashes.append(row_hash(u, d, x))
    return multiset_digest(hashes)


def shards_digest(out_dir: pathlib.Path) -> str:
    hashes = []
    for f in sorted(out_dir.glob("part-*.json.gz")):
        with gzip.open(f, "rb") as fh:
            for line in fh:
                hashes.append(int.from_bytes(hashlib.sha256(line).digest(), "big"))
    return multiset_digest(hashes)


# --- one repetition ---------------------------------------------------------


@dataclass
class Input:
    """The run's input as written by ``write_input``."""

    path: pathlib.Path  # the batch: a .parquet file or a .warc.gz directory
    base: pathlib.Path | None  # the starting warehouse's days, .warc.gz
    docs: int  # in the batch
    payload_bytes: int  # of the batch


def write_input(plan: RowPlan, seed: int, cores: int,
                dest: pathlib.Path) -> Input:
    """Generate the input from the seed and write it in its ingest format
    (the set-up that ``setup_s`` times): daily_append's days as .warc.gz,
    one file per core, and crawl_batch's batch as parquet."""
    from pdf_extractor_spark.sources.warc import write_warc_dir

    rows = plan.batch_rows(seed)
    base = None
    if plan.base:
        base = dest / "base"
        write_warc_dir(base, plan.base_rows(seed), cores)
        path = dest / "warc"
        write_warc_dir(path, rows, cores)
    else:
        path = dest / "pages.parquet"
        write_parquet(rows, path)
    return Input(path, base, len(rows), sum(len(r.html) for r in rows))


@dataclass
class RepResult:
    ingest_s: float
    extract_s: float
    corpus_s: float
    docs: int
    payload_bytes: int
    stored_bytes: int
    files_written: int
    pages_landed: int
    warc_bytes: int
    processed: list[str]
    skipped: list[str]
    failed: list[str]
    committed: str
    funnel: dict
    shards: str
    peak_rss_mb: dict  # process group → MB
    spans: dict  # phase → (start, end), epoch seconds
    rep: int


def build_base(spark, inp: Input, dest: pathlib.Path) -> pathlib.Path:
    """daily_append's starting warehouse, untimed: every base day ingested
    from ``.warc.gz`` and extracted, with its lineage. A corpus is built
    from it too, so this pass also warms the session the way a first
    repetition would. Returns the warehouse directory."""
    from pdf_extractor_spark.jobs import corpus_job
    from pdf_extractor_spark.plans import extract_plan
    from pdf_extractor_spark.sources import pages as pages_src

    wh = dest / "wh"
    tbl = pages_src.ingest_warc_to_icetable(spark, str(inp.base), wh / "pages")
    res = extract_plan.run_extract(spark, tbl, str(wh))
    if res.failed:
        raise RuntimeError(f"starting warehouse: dates failed: {res.failed}")
    corpus_job.build_corpus(spark, str(wh), str(dest / "corpus"))
    return wh


def run_rep(spark, inp: Input, rep: int, rep_dir: pathlib.Path,
            base_wh: pathlib.Path | None, phase, rss) -> RepResult:
    """Run repetition ``rep`` of the timed product path on a fresh copy of
    the starting warehouse (or an empty one), then read back what it
    committed. ``phase(name, rep)`` tags the Spark jobs that follow;
    ``rss`` samples peak memory over the timed path."""
    # entry points are looked up on their modules at call time, so the
    # traced run's wrappers see these calls
    from pdf_extractor_spark.jobs import corpus_job
    from pdf_extractor_spark.plans import extract_plan
    from pdf_extractor_spark.sources import pages as pages_src

    wh = rep_dir / "wh"
    if base_wh is not None:
        shutil.copytree(base_wh, wh)
    extracted = IceTable(wh / "extracted")
    before = set(extracted.files())
    pages_before = set(IceTable(wh / "pages").files())

    rss.start()
    phase("ingest", rep)
    a = time.time()
    if inp.base is not None:
        tbl = pages_src.ingest_warc_to_icetable(spark, str(inp.path), wh / "pages")
    else:
        tbl = pages_src.ingest_corpus_to_icetable(spark, inp.path, wh / "pages")
    b = time.time()
    phase("extract", rep)
    res = extract_plan.run_extract(spark, tbl, str(wh))
    c = time.time()
    phase("corpus", rep)
    funnel = corpus_job.build_corpus(spark, str(wh), str(rep_dir / "corpus"))
    d = time.time()
    phase("", rep)
    peak = rss.stop()

    added = [f for f in extracted.files() if f not in before]
    landed = sum(pq.ParquetFile(f).metadata.num_rows
                 for f in tbl.files() if f not in pages_before)
    warc_bytes = 0
    if inp.base is not None:
        warc_bytes = sum(p.stat().st_size for p in inp.path.glob("*.warc.gz"))
    return RepResult(
        ingest_s=b - a, extract_s=c - b, corpus_s=d - c,
        docs=inp.docs, payload_bytes=inp.payload_bytes,
        stored_bytes=sum(pathlib.Path(f).stat().st_size for f in added),
        files_written=len(added), pages_landed=landed,
        warc_bytes=warc_bytes, processed=list(res.processed),
        skipped=list(res.skipped), failed=list(res.failed),
        committed=committed_digest(extracted),
        funnel={k: v for k, v in funnel.items() if k != "out"},
        shards=shards_digest(rep_dir / "corpus"), peak_rss_mb=peak,
        spans={"ingest": (a, b), "extract": (b, c), "corpus": (c, d)},
        rep=rep)
