"""MinHash signature values pinned to a pure-Python reference.

``minhash_signatures`` must give, for every doc with at least one
k-shingle, ``mh_i`` = the minimum over the doc's distinct shingles of the
16-bit slice ``i % 8`` (hex chars ``4 * (i % 8)`` .. ``+4``) of digest
``i // 8``, where digest 0 is ``md5(shingle)`` and digest d is
``md5(f"{d}|{shingle}")``. The reference below computes that with
``hashlib`` and never touches Spark.
"""

import hashlib
import re

import pytest

_TOKEN = re.compile(r"[A-Za-z0-9]+")


def _digest(d: int, shingle: str) -> str:
    return hashlib.md5(((f"{d}|" if d else "") + shingle).encode()).hexdigest()


def _shingles(text: str, k: int = 3) -> set[str]:
    toks = [t.lower() for t in _TOKEN.findall(text)]
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _reference(docs, num_hashes: int) -> dict[int, tuple[int, ...]]:
    out = {}
    for doc_id, text in docs:
        sh = _shingles(text)
        if not sh:
            continue
        out[doc_id] = tuple(
            min(int(_digest(i // 8, s)[4 * (i % 8) : 4 * (i % 8) + 4], 16) for s in sh)
            for i in range(num_hashes)
        )
    return out


def _top_bit_text() -> str:
    """A one-shingle text whose every digest half (both 64-bit words of
    digests 0 and 1) has its top bit set, so each slice of the signature
    is read through a negative signed word."""
    for n in range(100_000):
        text = f"w{n} top bit"
        (s,) = _shingles(text)
        if all(int(_digest(d, s)[16 * w], 16) >= 8 for d in (0, 1) for w in (0, 1)):
            return text
    raise AssertionError("no top-bit shingle in the search range")


def _edge_docs():
    return [
        (1, ""),  # no tokens: no row
        (2, "lonely"),  # one token: no row
        (3, "two words!"),  # two tokens: no row
        (4, "!!! ,,, ;;;"),  # punctuation only: no row
        (5, "a b c a b c a b c a b c"),  # repeated shingles
        (6, "Hello, WORLD! hello-world; Foo_bar 42x. HELLO world hello"),  # case, punctuation
        (7, "café naïve résumé 東京 x y z"),  # non-ASCII separators
        (8, _top_bit_text()),
        (9, " ".join(f"tok{i % 37} word{i % 11}" for i in range(120))),
        (10, "The quick brown fox jumps over the lazy dog. The quick brown fox!"),
    ]


@pytest.mark.parametrize("num_hashes", [8, 12, 16])
def test_signatures_match_md5_slice_reference(spark, num_hashes):
    from ecollector_spark.datapipe import dedup

    docs = _edge_docs()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = dedup.minhash_signatures(df, num_hashes=num_hashes).collect()
    got = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(num_hashes)) for r in rows}
    want = _reference(docs, num_hashes)
    assert set(want) == {5, 6, 7, 8, 9, 10}
    assert got == want
    # the top-bit doc's only shingle sets every slice it contributes
    assert want[8][0] >= 0x8000 and want[8][4] >= 0x8000


_HYBRID_PASSES = r"""
import sys, threading
sys.path.insert(0, sys.argv[1])
from ecollector_spark.datapipe import dedup
from ecollector_spark.session import get_spark

spark = get_spark("hybrid-passes", master="local[2]")
jvm = spark._jvm.System
for path in sys.argv[2:]:
    pairs = dedup.minhash_lsh_pairs(spark.read.parquet(path))
    # a JVM GC every 20 ms while the pass runs: a metric that only a
    # cut lineage held is dropped before the stage carrying it ends
    done = threading.Event()

    def tick():
        while not done.wait(0.02):
            jvm.gc()

    ticker = threading.Thread(target=tick)
    ticker.start()
    n = len(pairs.collect())
    done.set()
    ticker.join()
    print("pairs", n, flush=True)
    jvm.gc()
"""


def _shard(path: str, seed: int, n_docs: int = 1000) -> None:
    """A one-row-group shard of 120-200-word documents with planted
    exact duplicates (5%) and near duplicates (5%, ~3% of words changed)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = [f"w{rng.randrange(10**6)}" for _ in range(4000)]
    texts: list[str] = []
    for _ in range(n_docs):
        roll = rng.random()
        if texts and roll < 0.05:
            text = rng.choice(texts)
        elif texts and roll < 0.10:
            words = rng.choice(texts).split(" ")
            for _ in range(max(1, len(words) // 33)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(120, 200)))
        texts.append(text)
    ids = pa.array(range(seed * n_docs, (seed + 1) * n_docs), pa.int64())
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), path)


def test_hybrid_passes_log_no_missing_accumulators(capfd, tmp_path):
    """Three hybrid passes at local[2], with JVM GCs during and after
    each, log no "attempted to access non-existent accumulator" error.
    Over a lazy signature checkpoint the first band-branch job to end
    cuts the lineage, and the concurrent stages then report SQL metrics
    of the signature plan that a GC has dropped."""
    import os
    import subprocess
    import sys

    shards = []
    for seed in (1, 2, 3):
        shards.append(str(tmp_path / f"shard{seed}.parquet"))
        _shard(shards[-1], seed)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS")}
    proc = subprocess.run(
        [sys.executable, "-c", _HYBRID_PASSES, repo, *shards], env=env, timeout=300
    )
    out, err = capfd.readouterr()
    assert proc.returncode == 0, err[-3000:]
    counts = [int(line.split()[1]) for line in out.splitlines() if line.startswith("pairs ")]
    assert len(counts) == 3 and all(n >= 50 for n in counts), out
    assert "non-existent accumulator" not in err
