"""Seeded crawl generator for the ``corpus_admit`` workload.

Pages are HTML around prose drawn from a seeded pseudo-word vocabulary,
long enough that two independent pages share almost no shingles. Each
admission batch plants every verdict class the admission cascade can
return, and the generator records the verdict (and, for duplicates, the
original) it expects for every planted page:

* ``quarantined``: a torn page (the HTML cut off two thirds in),
* ``gated``: a page too short for the quality gate,
* ``exact_dup``: the text of a committed survivor, or the second page of
  an in-batch identical pair (points at the first),
* ``near_dup``: a committed survivor's text plus one word, or the shorter
  page of an in-batch near-identical pair (points at the longer one),
* ``admitted``: fresh pages and the winner of each in-batch pair.
"""

from __future__ import annotations

import random
from collections import Counter

STOP = ("the", "a", "of", "and", "to", "in", "is")
# Sizes from traced batches on 4 cores: a batch costs 14-19 s of fixed
# per-job work (158 jobs at any size) plus 1.6-2.8 ms of wall time and
# about 7 KB of shuffle per page, so at 4000 pages the data-proportional
# work is a visible share of the batch (README.md gives the figures). The
# set-up corpus is kept small because build_corpus, run once per process,
# is itself mostly fixed cost.
CORPUS_PAGES = 500
BATCH_PAGES = 4000
# planted pages per batch, by class
PLANT = {"torn": 20, "gated": 20, "stored_exact": 20, "ledger_near": 20,
         "intra_exact_pairs": 10, "intra_near_pairs": 10}


class Crawl:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        syll = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe",
                "gu", "hi", "jo", "be", "ci", "mo", "nu", "re", "ta", "wy", "xo", "qi"]
        words = set()
        while len(words) < 6000:
            words.add("".join(self.rng.choice(syll) for _ in range(self.rng.randint(2, 4))))
        self.vocab = sorted(words)
        self.texts: dict[int, str] = {}  # committed survivor texts by doc id

    def _text(self) -> str:
        r = self.rng
        sents = []
        for _ in range(r.randint(8, 14)):
            ws = [r.choice(STOP) if r.random() < 0.15 else r.choice(self.vocab)
                  for _ in range(r.randint(8, 15))]
            sents.append(" ".join(ws) + ".")
        return " ".join(sents)

    @staticmethod
    def html(i: int, text: str, torn: bool = False) -> str:
        h = (f"<html><head><title>Page {i}</title></head><body>"
             f"<h1>Page {i}</h1><p>{text}</p></body></html>")
        return h[: len(h) * 2 // 3] if torn else h

    def corpus(self) -> list[tuple[int, str]]:
        """The set-up crawl: clean pages plus some torn, gated and
        duplicated ones, so the full build exercises every stage. The
        texts that survive the build are kept as admission targets."""
        rows = []
        for i in range(CORPUS_PAGES):
            k = i % 50
            if k == 7:
                rows.append((i, self.html(i, self._text(), torn=True)))
            elif k == 11:
                rows.append((i, self.html(i, "tiny page")))
            elif k == 13:  # exact copy of the previous page's body
                rows.append((i, self.html(i, rows[-1][1].split("<p>")[1].split("</p>")[0])))
            else:
                t = self._text()
                rows.append((i, self.html(i, t)))
                self.texts[i] = t
        return rows

    def batch(self, b: int) -> tuple[list[tuple[int, str]], dict]:
        """Admission batch ``b`` (1-based) and its expected verdicts."""
        r = self.rng
        base = 1_000_000 * b
        rows: list[tuple[int, str]] = []
        status: Counter = Counter()
        dup_of: dict[int, int] = {}
        nxt = iter(range(base, base + 10 * BATCH_PAGES))

        def add(text, torn=False):
            i = next(nxt)
            rows.append((i, self.html(i, text, torn)))
            return i

        targets = r.sample(sorted(self.texts), PLANT["stored_exact"] + PLANT["ledger_near"])
        for t in targets[:PLANT["stored_exact"]]:
            dup_of[add(self.texts[t])] = t
        status["exact_dup"] += PLANT["stored_exact"]
        for t in targets[PLANT["stored_exact"]:]:
            dup_of[add(self.texts[t] + " " + r.choice(self.vocab))] = t
        status["near_dup"] += PLANT["ledger_near"]
        for _ in range(PLANT["torn"]):
            add(self._text(), torn=True)
        status["quarantined"] += PLANT["torn"]
        for _ in range(PLANT["gated"]):
            add("tiny page")
        status["gated"] += PLANT["gated"]
        admitted: dict[int, str] = {}
        for _ in range(PLANT["intra_exact_pairs"]):
            t = self._text()
            first = add(t)
            dup_of[add(t)] = first
            admitted[first] = t
        status["exact_dup"] += PLANT["intra_exact_pairs"]
        for _ in range(PLANT["intra_near_pairs"]):
            t = self._text()
            longer = t + " " + r.choice(self.vocab)
            short = add(t)
            win = add(longer)
            dup_of[short] = win
            admitted[win] = longer
        status["near_dup"] += PLANT["intra_near_pairs"]
        while len(rows) < BATCH_PAGES:
            t = self._text()
            admitted[add(t)] = t
        status["admitted"] += len(admitted)
        # admitted pages become committed survivors for later batches
        self.texts.update(admitted)
        return rows, {"status_counts": dict(status), "dup_of": dup_of}
