"""Seeded input generation for the benchmark.

Everything the program receives is made here from the ``--seed``
argument: the flat ``documents`` table every workload starts from, the
giant documents of ``pipeline_resume``, and the doc_id hash that splits
that workload into its commit and resume phases. The seed changes which
words, ids and sizes appear, never how many: each workload does the same
amount of work on every seed.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

# The 30-word vocabulary and "dup" marker of the shipped documents table,
# so the word-soup texts tokenize, shingle and BPE-merge as they do there.
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14
N_SOURCES = 20


def flat_documents(seed: int, n_docs: int) -> pa.Table:
    """The flat documents table (doc_id, text, lang, source, n_chars).

    Texts are 10-100 vocabulary words; one doc in 20 ends in "dup" and one
    in 600 repeats an earlier text, as in the shipped table."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < 1 / 600:
            texts.append(texts[rng.randrange(i)])
            continue
        words = rng.choices(VOCAB, k=rng.randint(10, 100))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(LANGS) for _ in range(n_docs)],
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(path: str, seed: int, n_docs: int) -> pa.Table:
    table = flat_documents(seed, n_docs)
    pq.write_table(table, path)
    return table


def giant_documents(seed: int, count: int, total_bytes: int) -> list[dict]:
    """``count`` span documents whose HTML together holds ``total_bytes``.

    Each is above EngineConfig.giant_doc_bytes (1 MiB), so the salted
    repartition's giant branch and the UDF's byte-bounded slicing run.
    The seed picks the content and how the byte total is shared out. The
    ids are fixed: the salted repartition places a giant by the hash of
    its id, so fixed ids keep which giants share a task the same on every
    seed."""
    rng = random.Random(seed ^ 0x6A1A7)
    weights = [rng.uniform(1.0, 1.5) for _ in range(count)]
    sizes = [int(total_bytes * w / sum(weights)) for w in weights]
    docs = []
    for i, size in enumerate(sizes):
        doc_id = f"giant-{i}"
        title = f"Giant report {doc_id}"
        head = (
            f"<html><head><title>{title}</title></head><body>"
            '<nav class="nav-menu"><a href="/">Home</a><a href="/a">Archive</a></nav>'
            f"<article class=\"post-content\"><h1>{title}</h1>"
        )
        tail = "</article><footer class=\"site-footer\"><p>Copyright.</p></footer></body></html>"
        parts = [head]
        n = len(head) + len(tail)
        k = 0
        while n < size:
            if k % 40 == 39:
                para = (
                    '<pre><code class="language-python">'
                    + "\n".join(f"x_{k}_{j} = f({j})" for j in range(rng.randint(5, 30)))
                    + "</code></pre>"
                )
            else:
                para = "<p>" + " ".join(rng.choices(VOCAB, k=rng.randint(12, 60))) + ", end.</p>"
            parts.append(para)
            n += len(para)
            k += 1
        parts.append(tail)
        html = "".join(parts)
        docs.append(
            {
                "doc_id": doc_id,
                "url": f"https://reports.example.com/{doc_id}",
                "host": "reports.example.com",
                "n_bytes": len(html),
                "spans": [{"kind": "html", "text": html, "media_ref": "", "offset": 0}],
            }
        )
    return docs
