"""Seeded inputs and their reference answers.

Everything here is pure Python and depends only on the seed: the signals
that seed a view, the command mix a writer sends, the documents of the
corpus workload, and the answers the program must reproduce (a
last-write-wins fold of the events, and the documents a corpus
preparation keeps).
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import random
import re
import string
import uuid

PRIORITIES = ("Low", "Medium", "High")
PRIORITY_CODE = {"Low": 1, "Medium": 2, "High": 3}
AUTHORS = ("otavio", "ana", "lee", "sam", "kim")
_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _words(rng: random.Random, n: int) -> list[str]:
    return [
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(3, 9)))
        for _ in range(n)
    ]


def to_micros(ts: str) -> int:
    """ISO-8601 timestamp with offset → microseconds since the epoch."""
    d = dt.datetime.fromisoformat(ts) - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


# -- signals -----------------------------------------------------------------


def seed_signals(seed: int, n: int) -> list[dict]:
    """``n`` created-signal events with ids and timestamps fixed by ``seed``."""
    rng = random.Random(seed)
    vocab = _words(rng, 200)
    out = []
    for k in range(n):
        ts = (_BASE_TS + dt.timedelta(seconds=k, microseconds=rng.randrange(10**6))).isoformat()
        out.append(
            {
                "action": "created",
                "id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
                "title": " ".join(rng.choices(vocab, k=3)),
                "content": " ".join(rng.choices(vocab, k=5 + k % 16)),
                "priority": PRIORITIES[k % 3],
                "author": rng.choice(AUTHORS),
                "created_at": ts,
                "updated_at": ts,
            }
        )
    return out


def write_event_file(path: str, events: list[dict]) -> None:
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


class Zipf:
    """Draws items with probability ∝ 1/rank^s over a seeded ranking."""

    def __init__(self, items, rng: random.Random, s: float = 1.1):
        self.rng = rng
        self.items = list(items)
        rng.shuffle(self.items)
        acc, self._cum = 0.0, []
        for rank in range(1, len(self.items) + 1):
            acc += 1.0 / rank**s
            self._cum.append(acc)

    def draw(self):
        return self.items[bisect.bisect_left(self._cum, self.rng.random() * self._cum[-1])]


class CommandMix:
    """The writer's command stream: creates, updates on Zipf-hot keys of
    the seeded view, and a few deletes of signals the writer created.

    Every block of 25 commands holds 12 creates, 12 updates and 1 delete
    in seeded order, so every seed sends the same mix.
    ``next_op(n_created)`` returns ``(kind, target, fields)``: ``target``
    is a seeded id (update), an index into the writer's created ids
    (delete) or None (create). Seeded ids are never deleted, so reads of
    them never miss.
    """

    BLOCK = ("create",) * 12 + ("update",) * 12 + ("delete",)

    def __init__(self, seed: int, seed_ids):
        self.rng = random.Random(seed * 7919 + 1)
        self.vocab = _words(self.rng, 200)
        self.hot = Zipf(seed_ids, self.rng)
        self._deck: list[str] = []
        self._n = 0
        self._live: list[int] = []  # indexes of created, not yet deleted

    def _fields(self) -> dict:
        self._n += 1
        return {
            "title": " ".join(self.rng.choices(self.vocab, k=3)),
            "content": " ".join(self.rng.choices(self.vocab, k=5 + self._n % 16)),
            "priority": 1 + self._n % 3,
        }

    def next_op(self, n_created: int):
        if not self._deck:
            self._deck = list(self.BLOCK)
            self.rng.shuffle(self._deck)
        kind = self._deck.pop()
        if kind == "delete" and self._live:
            idx = self._live.pop(self.rng.randrange(len(self._live)))
            return "delete", idx, None
        if kind == "update":
            return "update", self.hot.draw(), self._fields()
        self._live.append(n_created)
        return "create", None, self._fields()


# -- reference last-write-wins fold --------------------------------------------


def lww_fold(events) -> dict[str, tuple]:
    """Fold events into ``{id: (title, content, priority, author,
    created_us, updated_us)}``: the newest (updated_at, created_at, title)
    wins, and a delete evicts its key for good (its envelope has no
    timestamp, and a timestamp-less event outranks every timestamped one).
    """
    state: dict[str, tuple | None] = {}
    for ev in events:
        id_ = ev["id"]
        if ev["action"] == "deleted":
            state[id_] = None
            continue
        if id_ in state and state[id_] is None:
            continue
        row = (
            ev["title"], ev["content"], ev["priority"], ev["author"],
            to_micros(ev["created_at"]), to_micros(ev["updated_at"]),
        )
        cur = state.get(id_)
        if cur is None or (row[5], row[4], row[0]) >= (cur[5], cur[4], cur[0]):
            state[id_] = row
    return {k: v for k, v in state.items() if v is not None}


# -- corpus --------------------------------------------------------------------

EMAIL_RE = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")


def corpus(seed: int, n_docs: int):
    """Documents shaped like the ``documents`` table, with known fates.

    Base documents are random text over a 600-word vocabulary, so no two
    share a word 3-gram by chance. Mixed in, with ids above every base id:
    exact copies and near copies (one word appended to a base document of
    at least 150 words) of distinct base documents, plus junk that fails
    the quality gate (two-word documents, all-number documents). One base
    document in twenty carries an e-mail address for the PII stage.
    Counts and document lengths are the same for every seed; only the
    words, the copied documents and the row order change.

    Returns ``(rows, expected)``: rows are ``(doc_id, text, lang, source,
    n_chars)`` in shuffled order; ``expected`` maps each kept id to its
    text after redaction.
    """
    rng = random.Random(seed * 104729 + 3)
    vocab = _words(rng, 600)
    langs = ("en", "en", "de", "fr", "es", "zh")
    n_base = int(n_docs * 0.86)
    n_long = n_base // 5
    lengths = [150 + i * 111 // n_long for i in range(n_long)]
    lengths += [20 + i * 71 // (n_base - n_long) for i in range(n_base - n_long)]
    rng.shuffle(lengths)
    base = []
    for i, n_words in enumerate(lengths):
        words = rng.choices(vocab, k=n_words)
        if i % 20 == 0:
            user = "".join(rng.choices(string.ascii_lowercase, k=6))
            words.insert(rng.randrange(n_words), f"{user}.{i}@mail.example.org")
        base.append(" ".join(words))
    rows = list(enumerate(base))
    expected = {i: EMAIL_RE.sub("<EMAIL>", t) for i, t in rows}
    n_extra = n_docs - n_base
    n_exact = n_near = n_extra * 7 // 20
    n_short = (n_extra - n_exact - n_near) // 2
    long_ids = [i for i, n in enumerate(lengths) if n >= 150]
    extra = [base[i] for i in rng.sample(range(n_base), n_exact)]
    extra += [base[i] + " " + rng.choice(vocab) for i in rng.sample(long_ids, n_near)]
    extra += [" ".join(rng.choices(vocab, k=2)) for _ in range(n_short)]
    while len(extra) < n_extra:
        extra.append(" ".join(str(rng.randrange(10**6)) for _ in range(25)))
    rows += [(n_base + j, t) for j, t in enumerate(extra)]
    rng.shuffle(rows)
    out = [
        (i, t, langs[i % len(langs)], f"src{i % 20}", len(t)) for i, t in rows
    ]
    return out, expected


def content_hash(pairs) -> str:
    """sha256 over ``id<TAB>text`` lines sorted by id."""
    h = hashlib.sha256()
    for i, t in sorted(pairs):
        h.update(f"{i}\t{t}\n".encode())
    return h.hexdigest()
