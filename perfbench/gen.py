"""Seeded input generator for the benchmark.

Everything the benchmark times is made here from ``--seed``: the same seed
gives byte-identical files, queries and epoch id sets. The program under
test only ever sees the files written to disk and the query/document lists
handed to its public API.

Properties the generator controls, and why each matters:

- **Topic-clustered Zipf text.** Each page draws its words from one topic's
  Zipf distribution mixed with a global head of common words, so hash
  embeddings cluster by topic and IVF cells partition something real, and
  BM25 posting lists have the long-tailed lengths real text has.
- **Page-length spread.** Lognormal token counts (clipped), so tasks and
  posting lists are uneven the way real pages are.
- **Exact and near duplicates.** Whole files are re-uploaded byte for byte
  (exact) or with only case, punctuation and spacing changed (near: same
  token stream, different bytes). The near copies therefore have shingle
  Jaccard 1 and are found by MinHash-LSH with certainty, which keeps the
  expected survivor set exact for the ingest check.
- **An lv1..lv4 category tree.** Files sit at depth 1..4 under
  ``uploaded/``; lv1 is correlated with the topic, so a category filter
  prunes partitions *and* changes which documents win.
- **Head/tail query terms.** Each query term comes from the head or the
  tail of one topic's vocabulary; a seeded share of queries carry a
  category filter.
- **Epoch re-index and delete id sets.** Drawn from the pages an ingest
  keeps, disjoint, so the incremental BM25 index overwrites and tombstones
  documents it really holds.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

VOCAB = 6000
TOPICS = 12
HEAD_WORDS = 150
HEAD_SHARE = 0.3  # share of a page's tokens drawn from the global head
MIN_TOKENS, MAX_TOKENS = 80, 500
PAGES_PER_FILE = 3
LV1 = ("atlas", "boreal", "cobalt", "delta")
_SYL = ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "va", "ze", "qu", "br",
        "an", "el", "or", "ix", "um", "st", "dr", "gl")


class Generator:
    """All randomness of one benchmark run, derived from one seed."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        words: set[str] = set()
        while len(words) < VOCAB:
            n = int(self.rng.integers(2, 5))
            words.add("".join(_SYL[i] for i in self.rng.integers(0, len(_SYL), n)))
        self.vocab = np.array(sorted(words))
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        zipf = 1.0 / (ranks + 2.7) ** 1.07
        self.topic_p = zipf / zipf.sum()
        self.topic_perm = [self.rng.permutation(VOCAB) for _ in range(TOPICS)]
        head = 1.0 / np.arange(1, HEAD_WORDS + 1, dtype=np.float64)
        self.head_p = head / head.sum()
        self.head_words = self.rng.choice(VOCAB, HEAD_WORDS, replace=False)
        self.topic_lv1 = [LV1[t % len(LV1)] for t in range(TOPICS)]

    # ---- text ------------------------------------------------------------

    def tokens(self, topic: int, n: int) -> list[str]:
        from_head = self.rng.random(n) < HEAD_SHARE
        head = self.head_words[self.rng.choice(HEAD_WORDS, n, p=self.head_p)]
        body = self.topic_perm[topic][self.rng.choice(VOCAB, n, p=self.topic_p)]
        return list(self.vocab[np.where(from_head, head, body)])

    def page_len(self) -> int:
        n = int(round(self.rng.lognormal(np.log(150.0), 0.55)))
        return min(max(n, MIN_TOKENS), MAX_TOKENS)

    def page_text(self, topic: int) -> str:
        """One page: sentences of 6-18 words, paragraphs on newlines."""
        toks = self.tokens(topic, self.page_len())
        out, i = [], 0
        while i < len(toks):
            k = int(self.rng.integers(6, 19))
            sent = toks[i : i + k]
            sent[0] = sent[0].capitalize()
            out.append(" ".join(sent) + ".")
            i += k
            if self.rng.random() < 0.2:
                out.append("\n")
        return " ".join(out).replace(" \n ", "\n")

    def reformat(self, text: str) -> str:
        """Near duplicate: same token stream, different bytes (case,
        punctuation and spacing only)."""
        words = text.split(" ")
        flip = self.rng.random(len(words)) < 0.15
        comma = self.rng.random(len(words)) < 0.08
        out = []
        for w, f, c in zip(words, flip, comma):
            w = w.upper() if f else w
            out.append(w + ("," if c and w[-1:].isalpha() else ""))
        return "  ".join(out)

    def topic_of_category(self) -> tuple[int, list[str]]:
        """A topic and its lv1..lvd category path (depth 1-4)."""
        topic = int(self.rng.integers(0, TOPICS))
        lv1 = self.topic_lv1[topic] if self.rng.random() < 0.8 else LV1[
            int(self.rng.integers(0, len(LV1)))
        ]
        depth = int(self.rng.integers(1, 5))
        path = [lv1] + [f"{lv1[:2]}{lvl}{int(self.rng.integers(0, 3))}" for lvl in range(2, depth + 1)]
        return topic, path

    # ---- files (ingest / search / batch corpora) ---------------------------

    def write_files(
        self,
        root: str,
        n_files: int,
        tag: str,
        exact_share: float = 0.0,
        near_share: float = 0.0,
    ) -> dict:
        """Write ``n_files`` originals under ``root/site0/uploaded/<cats>/``
        plus exact copies (``site1``) and near copies (``site2``) of seeded
        subsets. Files hold PAGES_PER_FILE pages separated by form feeds.

        Returns the manifest: one record per written file with its path
        relative to ``root``, page count, page texts' byte size and, for
        copies, the original's relative path."""
        files = []
        originals = []
        for i in range(n_files):
            topic, cats = self.topic_of_category()
            # several pages, so every file has a form feed (the text parser
            # cuts a file without one into fixed-size pages instead), and a
            # fixed number, so a batch's page count does not vary with the seed
            pages = [self.page_text(topic) for _ in range(PAGES_PER_FILE)]
            rel = os.path.join("site0", "uploaded", *cats, f"{tag}{i:05d}.txt")
            originals.append((rel, pages))
            files.append({"rel": rel, "pages": pages, "of": None, "cats": cats})
        n_exact = int(round(exact_share * n_files))
        n_near = int(round(near_share * n_files))
        picks = self.rng.choice(n_files, n_exact + n_near, replace=False)
        for j, idx in enumerate(picks):
            rel, pages = originals[idx]
            exact = j < n_exact
            site = "site1" if exact else "site2"
            copy = pages if exact else [self.reformat(p) for p in pages]
            files.append({
                "rel": rel.replace("site0", site, 1),
                "pages": copy,
                "of": rel,
                "cats": files[idx]["cats"],
            })
        text_bytes = 0
        for f in files:
            path = os.path.join(root, f["rel"])
            os.makedirs(os.path.dirname(path), exist_ok=True)
            body = "\f".join(f["pages"]).encode()
            text_bytes += len(body)
            with open(path, "wb") as fh:
                fh.write(body)
        return {"files": files, "text_bytes": text_bytes,
                "pages": sum(len(f["pages"]) for f in files)}

    # ---- epoch edits (ingest) -------------------------------------------------

    def edits(self, ids: list[int], n_reindex: int, n_delete: int):
        """Disjoint seeded subsets of ``ids``: (id, new text) pairs to
        re-index and ids to delete."""
        pick = self.rng.choice(np.array(ids), n_reindex + n_delete, replace=False)
        reindex = [(int(i), self.page_text(int(self.rng.integers(0, TOPICS))))
                   for i in sorted(pick[:n_reindex])]
        return reindex, sorted(int(i) for i in pick[n_reindex:])

    # ---- queries -------------------------------------------------------------

    def queries(self, n: int, filter_share: float = 0.0, head_share: float = 0.5):
        """(text, categories-or-None) pairs: 1-4 terms each from one topic,
        each term from the topic's head (top 40 ranks) or tail (rank >= 400)."""
        out = []
        for _ in range(n):
            topic = int(self.rng.integers(0, TOPICS))
            terms = []
            for _ in range(int(self.rng.integers(1, 5))):
                if self.rng.random() < head_share:
                    r = int(self.rng.integers(0, 40))
                else:
                    r = int(self.rng.integers(400, 2000))
                terms.append(str(self.vocab[self.topic_perm[topic][r]]))
            cats = [self.topic_lv1[topic]] if self.rng.random() < filter_share else None
            out.append((" ".join(terms), cats))
        return out


def page_id(abs_path: str, page: int) -> str:
    """The corpus id the pipeline derives for a page: md5("<path>#<page>")."""
    return hashlib.md5(f"{abs_path}#{page}".encode()).hexdigest()


def nid(page_id_hex: str) -> int:
    """The 60-bit numeric id used where operators need a long key."""
    return int(page_id_hex[:15], 16)
