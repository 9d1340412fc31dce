"""The two catalog workloads: a MARC store built at setup, then a fixed
op list per run.

Both workloads build the same store: ``N_BIBS`` bibs from
``tools.marc_bench.synth_records_df`` (without its authority-linked 650
field, so the store needs no auths), committed through
``MarcStore.commit_frame``, search-indexed and compacted.

- ``catalog_read`` times read-only traffic on that compacted store:
  ``get``, ``field_search`` (``title:``), ``text_search``
  (``245__a:``), ``page`` (keyset cursor) and ``history``.  Every round
  runs each kind once, in a seeded order.
- ``catalog_edit`` times the cataloguer's save loop: ``edit`` (get,
  ``Marc.set`` one subfield to a unique token, ``MarcStore.commit``),
  then a read-your-write ``get`` and a ``text_search`` for the token.
  A cycle is ``EDITS_PER_CYCLE`` such triples on a store that starts
  compacted; cycles are separated by ``store.compact("bib")``, so each
  kind gets one sample per cycle, all of them from the same state.

The seed picks record ids, cursors and the order of ops inside a round;
it never changes how many ops of each kind run, nor the multiset of
search terms.  Every answer is checked against values computed in
Python from the generators' formulas.
"""

from __future__ import annotations

import random
import time

from pyspark.sql import functions as F

from tools.marc_bench import WORDS, synth_records_df

N_BIBS = 1000
SEARCH_LIMIT = 50
PAGE_LIMIT = 20
#: search terms, each used equally often; none of them is a stem
#: prefix of another generator word
TITLE_TERMS = ("climate", "security", "development")
TEXT_TERMS = ("council", "human", "social")
READ_KINDS = ("get", "field_search", "text_search", "page", "history")
#: below MarcStore.AUTO_COMPACT_AT, so the inline fold never runs.  One
#: edit per cycle makes every read of the window see the same state: a
#: store one delta segment past compacted, read first after its commit
EDITS_PER_CYCLE = 1
#: untimed read rounds before the window (answers still checked)
READ_WARMUP_ROUNDS = 2


def _pick(i: int, j: int, k: int) -> str:
    # tools.marc_bench.synth_records_df's pick(j, k) for record i
    return WORDS[(i * k + j) % len(WORDS)]


def title_a(i: int) -> str:
    """245$a of generated bib ``i``."""
    return " ".join(_pick(i, j, k) for j, k in ((1, 3), (2, 5), (3, 7),
                                                 (4, 11)))


def title_b(i: int) -> str:
    """245$b of generated bib ``i`` (also its second 520$a)."""
    return " ".join(_pick(i, j, k) for j, k in ((8, 23), (9, 29)))


def token(seed: int, n: int) -> str:
    """A unique letters-only word: the tokenizer keeps it whole and no
    generator word shares its stem."""
    letters = "bcdfghjklmnpqrstvwxz"
    out, v = [], seed * 100_000 + n
    while True:
        v, r = divmod(v, len(letters))
        out.append(letters[r])
        if v == 0:
            break
    return "zq" + "".join(out)


class CatalogStore:
    """The store plus the Python model of what it must answer."""

    def __init__(self, spark, root: str, tracer):
        from dlx_spark.marc.store import MarcStore
        self.spark = spark
        self.tracer = tracer
        self.store = MarcStore(spark, root)
        self.title_override: dict[int, str] = {}
        self.edits: dict[int, int] = {}
        self.phases: dict[str, float] = {}
        base = range(1, N_BIBS + 1)
        self.title_hits = {w: [i for i in base
                               if w in title_a(i).split()
                               or w in title_b(i).split()]
                           for w in TITLE_TERMS}
        self.text_hits = {w: [i for i in base if w in title_a(i).split()]
                          for w in TEXT_TERMS}

    def _phase(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.phases[name] = time.perf_counter() - t0
        return out

    def build(self) -> None:
        spark, store = self.spark, self.store
        bibs = synth_records_df(spark, N_BIBS).withColumn(
            "datafields",
            F.filter("datafields", lambda f: f["tag"] != "650"))
        n = self._phase("store.bulk_commit", lambda: store.commit_frame(
            bibs, record_type="bib"))
        if n != N_BIBS:
            raise RuntimeError(f"bulk commit wrote {n} of {N_BIBS} bibs")
        self._phase("store.index_build",
                    lambda: store.build_search_index("bib"))
        self._phase("store.compact_setup", lambda: store.compact("bib"))

    # --- ops: each returns None when the answer is right, else a reason --

    def expected_title(self, rid: int) -> str:
        return self.title_override.get(rid, title_a(rid))

    def get(self, rid: int) -> str | None:
        with self.tracer.span("store.get"):
            rec = self.store.get("bib", rid)
        if rec is None:
            return f"get {rid}: no record"
        got = (rec.id, rec.get_value("245", "a"))
        want = (rid, self.expected_title(rid))
        return None if got == want else f"get {rid}: {got} != {want}"

    def _ids(self, kind: str, qs: str, **kw) -> list[int]:
        with self.tracer.span(f"{kind}.construct"):
            df = self.store.search("bib", qs, **kw).select("_id")
        with self.tracer.span(f"{kind}.execute") as sp:
            ids = [r[0] for r in df.collect()]
            if sp is not None:
                sp["rows"] = len(ids)
        return ids

    def search(self, kind: str, qs: str, want: list[int]) -> str | None:
        ids = self._ids(kind, qs, sort=["_id"], limit=SEARCH_LIMIT)
        want = want[:SEARCH_LIMIT]
        return None if ids == want else f"{qs}: {ids[:5]}.. != {want[:5]}.."

    def field_search(self, term: str) -> str | None:
        return self.search("field_search", f"title:{term}",
                           self.title_hits[term])

    def text_search(self, term: str) -> str | None:
        return self.search("text_search", f"245__a:{term}",
                           self.text_hits[term])

    def page(self, term: str, cursor: int) -> str | None:
        ids = self._ids("page", f"title:{term}", after_id=cursor,
                        limit=PAGE_LIMIT)
        want = [i for i in self.title_hits[term] if i > cursor][:PAGE_LIMIT]
        if ids != want:
            return f"page title:{term} after {cursor}: {ids[:5]}.. != {want[:5]}.."
        return None

    def history(self, rid: int) -> str | None:
        with self.tracer.span("store.history"):
            versions = self.store.history("bib", rid)
        want = 1 + self.edits.get(rid, 0)
        return None if len(versions) == want else (
            f"history {rid}: {len(versions)} versions != {want}")

    def edit(self, rid: int, tok: str) -> str | None:
        with self.tracer.span("edit.fetch"):
            rec = self.store.get("bib", rid)
        with self.tracer.span("record.set"):
            rec.set("245", "a", tok)
        with self.tracer.span("store.commit"):
            out = self.store.commit([rec])
        self.title_override[rid] = tok
        self.edits[rid] = self.edits.get(rid, 0) + 1
        return None if list(out) == [rid] else f"commit {rid} returned {out}"

    def rw_search(self, rid: int, tok: str) -> str | None:
        return self.search("text_search", f"245__a:{tok}", [rid])

    def compact(self) -> str | None:
        with self.tracer.span("store.compact"):
            self.store.compact("bib")
        return None


# --- op lists ------------------------------------------------------------
#
# An op is (kind, callable returning None or a failure reason).  A unit
# is a list of ops that starts and ends in the state a window starts
# from (with the workload's ``between`` ops in front of every unit but
# the first).  The units are built up front from the seed, so the
# op-kind counts and the term multiset depend only on the unit count.


def read_rounds(cat: CatalogStore, rng: random.Random,
                rounds: int) -> list[list[tuple[str, object]]]:
    units = []
    for r in range(rounds):
        t_term = TITLE_TERMS[r % len(TITLE_TERMS)]
        x_term = TEXT_TERMS[r % len(TEXT_TERMS)]
        p_term = TITLE_TERMS[(r + 1) % len(TITLE_TERMS)]
        rid, hid = rng.randint(1, N_BIBS), rng.randint(1, N_BIBS)
        # cursors from the lower half keep every page full
        cursor = rng.randint(1, N_BIBS // 2)
        rnd = [("get", lambda rid=rid: cat.get(rid)),
               ("field_search", lambda t=t_term: cat.field_search(t)),
               ("text_search", lambda t=x_term: cat.text_search(t)),
               ("page", lambda t=p_term, c=cursor: cat.page(t, c)),
               ("history", lambda h=hid: cat.history(h))]
        rng.shuffle(rnd)
        units.append(rnd)
    return units


def edit_cycles(cat: CatalogStore, seed: int, ids: list[int],
                cycles: int) -> list[list[tuple[str, object]]]:
    units = []
    for _ in range(cycles):
        ops = []
        for _ in range(EDITS_PER_CYCLE):
            rid = ids.pop()
            tok = token(seed, rid)
            # one read of each kind per state: a second get of the same
            # state skips the first one's extra jobs, a cost class of its own
            ops += [("edit", lambda rid=rid, tok=tok: cat.edit(rid, tok)),
                    ("get", lambda rid=rid: cat.get(rid)),
                    ("text_search",
                     lambda rid=rid, tok=tok: cat.rw_search(rid, tok))]
        units.append(ops)
    return units


class CatalogWorkload:
    """Shared setup; subclasses say which units a window runs."""

    #: op kinds whose latencies are reported (compact is timed inside the
    #: window but is store maintenance, not a user op)
    user_kinds: tuple[str, ...] = ()
    #: units per half of a traced run (untraced and traced alternate)
    trace_units = 2

    def __init__(self, spark, tracer, root: str, seed: int, seconds: int):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds = seed, seconds
        self.rng = random.Random(seed)
        self.cat = CatalogStore(spark, root, tracer)

    def setup(self) -> list[tuple[str, object]]:
        """Build the store; returns the warm-up ops for the runner."""
        self.cat.build()
        return self.warmup_ops()

    def between(self) -> list[tuple[str, object]]:
        """Ops that bring the store back to the state a unit starts from."""
        return []

    def window_ops(self) -> list[tuple[str, object]]:
        ops = []
        for n, unit in enumerate(self.window_units()):
            ops += (self.between() if n else []) + unit
        return ops


class CatalogRead(CatalogWorkload):
    user_kinds = READ_KINDS
    #: rounds per second of --seconds (one round takes ~1.2 s on local[4]);
    #: at --seconds 10 each kind's median is over 12 samples; with 6 the
    #: run-to-run spread of the medians was twice as wide
    ROUNDS_PER_S = 1.2
    trace_units = 3

    def warmup_ops(self):
        return [op for unit in read_rounds(self.cat, self.rng,
                                           READ_WARMUP_ROUNDS)
                for op in unit]

    def window_units(self):
        # a whole number of passes over the terms keeps them balanced
        n = len(TITLE_TERMS)
        rounds = n * max(1, round(self.seconds * self.ROUNDS_PER_S / n))
        return read_rounds(self.cat, self.rng, rounds)


class CatalogEdit(CatalogWorkload):
    user_kinds = ("edit", "get", "text_search")
    #: cycles per second of --seconds (one cycle, compact included,
    #: takes ~10 s on local[4]); at --seconds 10 each kind's median is
    #: over 3 samples of one state
    CYCLES_PER_S = 0.3
    #: a traced run adds the dedup phase; one cycle per half keeps it
    #: well inside a run's time limit
    trace_units = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        # distinct ids for every edit the run can make, seed-ordered
        self.ids = self.rng.sample(range(1, N_BIBS + 1), 64)

    def warmup_ops(self):
        # the bulk commit at setup warms most of the commit path; the
        # first single-record commit stays colder than the rest, and the
        # per-kind median of three cycles does not depend on it
        return []

    def between(self):
        return [("compact", self.cat.compact)]

    def window_units(self):
        cycles = max(1, round(self.seconds * self.CYCLES_PER_S))
        return edit_cycles(self.cat, self.seed, self.ids, cycles)


WORKLOADS = {"catalog_read": CatalogRead, "catalog_edit": CatalogEdit}
