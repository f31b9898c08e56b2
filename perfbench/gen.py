"""Seeded input generation for the benchmark workloads.

Inputs are a pure function of (workload, seed, size) and of
``corpus.CORPUS_VERSION``; they are written once under the work directory
and reused by every run with the same key. The program under test only ever
sees the written files.

* ``job_resume``   — Common-Crawl-style corpus rows from
  ``corpus.synthesize_row`` (the full class mix), drawn by the seed from a
  pool twice the corpus size (the pool is synthesized once and cached).
  Every 100th pool doc carries its text repeated 50 times, and the files
  are cut from the rows sorted by payload size, so the giants are packed
  together in the last files.
* ``curate_dedup`` — a ``documents.parquet`` shaped like the test data the
  ``__spark_entry__`` queries read (doc_id, text, lang, source, n_chars), with replicas made distinct
  by a seed-chosen letter permutation, injected exact duplicates and
  twins with words replaced by doc-unique tokens: far ones (every 5th
  word), ones just above the 0.8 Jaccard threshold and ones in the
  estimate tier's uncertain band below it.

Next to the corpus a ``truth.parquet`` records what the checks
compare against (url, doc_class, expected_text).
"""

from __future__ import annotations

import os
import random
import shutil
import string
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.ipc  # noqa: F401  (pa.ipc)
import pyarrow.parquet as pq

# the word list and language mix of the test data's documents tables
VOCAB = (
    "spark window merge table column vector stream value data small join"
    " filter big group hash customer sort order slow line part fast row the"
    " agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

GIANT_EVERY = 100  # every 100th corpus doc is a giant
GIANT_FACTOR = 50
# curate_dedup id spaces (base ids stay below 1_000_000, the offset at which
# __spark_entry__._docs_u copies each doc_id < 20)
DUP_BASE = 3_000_000
REPLICA_STRIDE = 10_000_000
TWIN_BASE = 100_000_000  # every 5th word replaced: Jaccard near 0.25
NEAR_BASE = 200_000_000  # Jaccard in NEAR_BAND: duplicates
MID_BASE = 300_000_000  # Jaccard in MID_BAND: verified, then rejected
# both bands stay clear of 0.8 by more than 2 standard errors of the k=64
# estimate (about 0.05), so the estimate tier decides them as exact
# verification does
NEAR_BAND = (0.88, 0.96)
MID_BAND = (0.45, 0.68)


def _text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(10, 100)))


def _corpus_chunk(lo: int, hi: int) -> pa.Table:
    """Pool rows [lo, hi)."""
    from pbx_ds_ocr_server_spark.corpus import synthesize_row

    cols: dict[str, list] = {
        k: [] for k in ("url", "html", "doc_class", "expected_text")
    }
    for i in range(lo, hi):
        text = _text(random.Random(i))  # seeded per doc: any chunking agrees
        if i % GIANT_EVERY == 0:
            text = " ".join([text] * GIANT_FACTOR)
        row = synthesize_row(i, text, "en")
        for k in cols:
            cols[k].append(row[k])
    return pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "html": pa.array(cols["html"], pa.binary()),
            "doc_class": pa.array(cols["doc_class"], pa.string()),
            "expected_text": pa.array(cols["expected_text"], pa.string()),
        }
    )


def _pool(work: str, workload: str, n_pool: int) -> pa.Table:
    """The seed-independent pool of corpus rows a seed draws its corpus
    from, synthesized once per ``CORPUS_VERSION`` in worker processes
    (plain subprocesses of this file, each writing one Arrow file)."""
    from pbx_ds_ocr_server_spark.corpus import CORPUS_VERSION

    path = os.path.join(work, "inputs",
                        f"pool_{workload}_v{CORPUS_VERSION}_n{n_pool}.arrow")
    if not os.path.exists(path):
        procs = len(os.sched_getaffinity(0))
        bounds = [n_pool * p // procs for p in range(procs + 1)]
        parts = [f"{path}.{p}.tmp" for p in range(procs)]
        workers = [
            subprocess.Popen([
                sys.executable, os.path.abspath(__file__),
                str(bounds[p]), str(bounds[p + 1]), parts[p],
            ])
            for p in range(procs)
        ]
        if any(w.wait() != 0 for w in workers):
            raise RuntimeError("corpus synthesis failed")
        tables = []
        for part in parts:
            with pa.OSFile(part) as f:
                tables.append(pa.ipc.open_file(f).read_all())
            os.remove(part)
        table = pa.concat_tables(tables)
        with pa.OSFile(path + ".tmp", "wb") as f, \
                pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
        os.replace(path + ".tmp", path)
    with pa.OSFile(path) as f:
        return pa.ipc.open_file(f).read_all()


def _write_corpus(
    path: str, pool: pa.Table, seed: int, n_docs: int, n_files: int
) -> None:
    """The seed's corpus: a seeded draw of ``n_docs`` pool rows, laid out
    in ``n_files`` parquet files."""
    pick = sorted(random.Random(f"corpus:{seed}").sample(range(len(pool)), n_docs))
    table = pool.take(pa.array(pick))
    pq.write_table(
        table.select(["url", "doc_class", "expected_text"]),
        os.path.join(path, "truth.parquet"),
    )
    # clustered layout: files are contiguous ranges of the rows sorted by
    # payload size, so the giants share the last files
    rows = table.select(["url", "html"])
    rows = rows.take(pa.compute.sort_indices(pa.compute.binary_length(rows["html"])))
    parts = [
        rows.slice(f * len(rows) // n_files,
                   (f + 1) * len(rows) // n_files - f * len(rows) // n_files)
        for f in range(n_files)
    ]
    data = os.path.join(path, "corpus")
    os.makedirs(data)
    for f, part in enumerate(parts):
        pq.write_table(part, os.path.join(data, f"part-{f:05d}.parquet"))


def _permutation(rng: random.Random) -> dict[int, int]:
    """A letter permutation that changes every vocabulary word."""
    letters = string.ascii_lowercase
    while True:
        perm = list(letters)
        rng.shuffle(perm)
        table = str.maketrans(letters, "".join(perm))
        if all(w.translate(table) != w for w in VOCAB):
            return table


def _shingles(words: list[str]) -> set[str]:
    """Distinct 3-word shingles, as ``operators.dedup.shingles`` makes them
    from single-space-separated text."""
    return {" ".join(words[j:j + 3]) for j in range(len(words) - 2)}


def _twin(text: str, tag: str, band: tuple[float, float],
          rng: random.Random) -> str | None:
    """``text`` with words replaced by unique tokens, at seeded positions
    at least 3 apart, until its shingle Jaccard with ``text`` falls below
    ``band[1]``; None when that overshoots ``band[0]``."""
    words = text.split(" ")
    base = _shingles(words)
    free = list(range(1, len(words) - 1))
    rng.shuffle(free)
    twin = list(words)
    for j in free:
        if any(twin[k] != words[k] for k in range(j - 2, j + 3)
               if 0 <= k < len(words)):
            continue
        twin[j] = f"{tag}x{j}"
        mine = _shingles(twin)
        jac = len(base & mine) / len(base | mine)
        if jac < band[1]:
            return " ".join(twin) if jac >= band[0] else None
    return None


def _write_documents(path: str, seed: int, n_base: int, n_replicas: int) -> None:
    rng = random.Random(f"documents:{seed}")
    base = [(i, _text(rng)) for i in range(n_base)]
    ids, texts = [i for i, _ in base], [t for _, t in base]
    for kk in range(1, n_replicas + 1):
        table = _permutation(rng)
        ids += [kk * REPLICA_STRIDE + i for i, _ in base]
        texts += [t.translate(table) for _, t in base]
    dups = sorted(rng.sample(range(n_base), n_base // 50))
    ids += [DUP_BASE + i for i in dups]
    texts += [base[i][1] for i in dups]
    for i in sorted(rng.sample(range(n_base), n_base // 10)):
        ws = base[i][1].split(" ")
        ids.append(TWIN_BASE + i)
        texts.append(" ".join(
            f"zqx{i}x{j}" if j % 5 == 0 else w for j, w in enumerate(ws)
        ))
    # twins near the 0.8 threshold, from base docs long enough to reach
    # each band; a doc whose replacements cannot land in its band is skipped
    long_docs = [i for i, t in base if t.count(" ") >= 40]
    for offset, band in ((NEAR_BASE, NEAR_BAND), (MID_BASE, MID_BAND)):
        for i in sorted(rng.sample(long_docs, min(len(long_docs), n_base // 10))):
            twin = _twin(base[i][1], f"zq{offset // TWIN_BASE}x{i}", band, rng)
            if twin is not None:
                ids.append(offset + i)
                texts.append(twin)
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=len(ids))
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(path, "documents.parquet"),
    )


def ensure_inputs(work: str, workload: str, seed: int, size: dict) -> str:
    """Return the input directory for (workload, seed, size), generating it
    if absent. The key includes ``CORPUS_VERSION``: a corpus staged by an
    older generator is never reused."""
    from pbx_ds_ocr_server_spark.corpus import CORPUS_VERSION

    key = "_".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(
        work, "inputs", f"{workload}_v{CORPUS_VERSION}_s{seed}_{key}"
    )
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "curate_dedup":
        _write_documents(tmp, seed, size["base"], size["replicas"])
    else:
        pool = _pool(work, workload, size["pool"])
        _write_corpus(tmp, pool, seed, size["docs"], size["files"])
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


if __name__ == "__main__":
    # worker mode of _pool: lo hi out.arrow
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    lo, hi = (int(a) for a in sys.argv[1:3])
    chunk = _corpus_chunk(lo, hi)
    with pa.OSFile(sys.argv[3], "wb") as f, pa.ipc.new_file(f, chunk.schema) as w:
        w.write_table(chunk)
