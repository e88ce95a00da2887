"""Model-based lifecycle test: a hypothesis state machine drives appends
(file-backed and in-memory inputs, so both flush substrates run),
updates, deletes through a possibly stale handle, maybe_merge /
commit_merge, rollback to a generation since the last merge, and reader
reopen against a pure-Python model of the live files. After every step
the index is healthy (check_index), a LocalSearcher counts the model's
live files, each live file's marker term hits once and every other
version's marker never, and Searcher on both substrates returns the
LocalSearcher's top-k for one OR query. Crash injection is in
test_publish_killpoints.py."""

import shutil
import tempfile

import pandas as pd
import pytest
from conftest import SUBSTRATES, pin_substrate
from hypothesis import HealthCheck, Phase, settings, strategies as st
from hypothesis.stateful import (RuleBasedStateMachine, initialize,
                                 invariant, precondition, rule,
                                 run_state_machine_as_test)

from diagon_spark import Searcher, build_index
from diagon_spark.index.builder import IndexCatalog, rollback
from diagon_spark.index.check import HEALTHY, check_index
from diagon_spark.index.deletes import delete_documents, update_documents
from diagon_spark.index.merge import commit_merge, maybe_merge
from diagon_spark.search.local_reader import LocalSearcher
from diagon_spark.search.query import Boolean, MatchAll, Term

KEY = ["repo", "path"]
ARGS = dict(num_buckets=4, positions=True, key_cols=KEY)
N_FILES = 10  # the file names the machine writes
OR_QUERY = Boolean(should=[Term("common"), Term("w1")])


def _marker(f: int, version: int) -> str:
    return f"m{f}x{version}"


def _latest_gen(root: str) -> int:
    return IndexCatalog._gen_of(IndexCatalog.list_commits(root)[-1])


class Lifecycle(RuleBasedStateMachine):
    spark = None

    def __init__(self):
        super().__init__()
        self.tmp = tempfile.mkdtemp(prefix="lifecycle-")
        self.root = f"{self.tmp}/idx"
        self.live: dict[int, int] = {}     # file -> live version
        self.top: dict[int, int] = {}      # file -> last version written
        self.history: dict[int, dict] = {}  # rollback targets -> live
        self.handles: list[IndexCatalog] = []
        self.reader = None
        self.n_inputs = 0

    def teardown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _input(self, files, file_backed):
        """Input rows of a new version of each file."""
        for f in files:
            self.top[f] = self.top.get(f, -1) + 1
        pdf = pd.DataFrame({
            "repo": "r", "path": [f"f{f}.py" for f in files],
            "content": [f"{_marker(f, self.top[f])} common w{f % 3}"
                        for f in files]})
        if not file_backed:
            return self.spark.createDataFrame(pdf)
        self.n_inputs += 1
        path = f"{self.tmp}/in{self.n_inputs}.parquet"
        pdf.to_parquet(path, index=False)
        return self.spark.read.parquet(path)

    def _keys(self, files):
        return self.spark.createDataFrame(
            [("r", f"f{f}.py") for f in files], KEY)

    def _committed(self, handle=None):
        self.history[_latest_gen(self.root)] = dict(self.live)
        if handle is not None:
            self.handles.append(handle)

    @initialize(n=st.integers(3, 6), segs=st.integers(1, 3))
    def build(self, n, segs):
        files = list(range(n))
        cat = build_index(self.spark, self._input(files, False), self.root,
                          num_segments=segs, **ARGS)
        self.live = {f: 0 for f in files}
        self._committed(cat)
        self.reader = LocalSearcher(IndexCatalog.load(self.root))
        self.reader_gen = _latest_gen(self.root)

    @precondition(lambda self: len(self.live) < N_FILES)
    @rule(data=st.data(), file_backed=st.booleans(), segs=st.integers(1, 2))
    def append(self, data, file_backed, segs):
        files = data.draw(st.lists(st.sampled_from(
            [f for f in range(N_FILES) if f not in self.live]),
            min_size=1, max_size=3, unique=True))
        cat = build_index(self.spark, self._input(files, file_backed),
                          self.root, num_segments=segs, append=True, **ARGS)
        self.live.update({f: self.top[f] for f in files})
        self._committed(cat)

    @precondition(lambda self: self.live)
    @rule(data=st.data(), file_backed=st.booleans())
    def update(self, data, file_backed):
        files = data.draw(st.lists(st.sampled_from(sorted(self.live)),
                                   min_size=1, max_size=2, unique=True))
        handle = data.draw(st.sampled_from(self.handles))
        cat = update_documents(self.spark, handle,
                               self._input(files, file_backed))
        self.live.update({f: self.top[f] for f in files})
        self._committed(cat)

    @precondition(lambda self: self.live)
    @rule(data=st.data())
    def delete(self, data):
        files = data.draw(st.lists(st.sampled_from(sorted(self.live)),
                                   min_size=1, max_size=2, unique=True))
        handle = data.draw(st.sampled_from(self.handles))
        assert delete_documents(self.spark, handle,
                                self._keys(files)) == len(files)
        for f in files:
            del self.live[f]
        self._committed()

    @rule(data=st.data())
    def merge(self, data):
        latest = IndexCatalog.load(self.root)
        if data.draw(st.booleans()):
            bound = data.draw(st.integers(1, 4))
            cat = maybe_merge(self.spark, latest, max_segments=bound)
            assert (cat is not latest) == (latest.num_segments > bound)
            if cat is latest:
                return
        else:
            cat = commit_merge(self.spark, latest,
                               num_segments=data.draw(st.integers(1, 3)))
        self.history = {}  # the merge pruned every older commit
        self._committed(cat)

    @precondition(lambda self: len(self.history) > 1)
    @rule(data=st.data())
    def roll_back(self, data):
        latest = _latest_gen(self.root)
        target = data.draw(st.sampled_from(
            sorted(g for g in self.history if g != latest)))
        cat = rollback(self.spark, self.root, target)
        self.live = dict(self.history[target])
        # the generations after the target are no states of the index now
        self.history = {g: m for g, m in self.history.items()
                        if g <= target}
        self._committed(cat)

    @rule()
    def reopen(self):
        new = self.reader.reopen_if_changed()
        latest = _latest_gen(self.root)
        assert (new is None) == (latest == self.reader_gen)
        if new is not None:
            self.reader, self.reader_gen = new, latest
        assert self.reader.count(MatchAll()) == len(self.live)

    @invariant()
    def index_matches_model(self):
        if self.reader is None:
            return
        rep = check_index(self.spark, self.root)
        assert rep["status"] == HEALTHY, rep
        ls = LocalSearcher(IndexCatalog.load(self.root))
        assert ls.count(MatchAll()) == len(self.live)
        for f, top in self.top.items():
            for v in range(top + 1):
                want = 1 if self.live.get(f) == v else 0
                assert len(ls.search(Term(_marker(f, v)), k=5)) == want, \
                    (f, v)
        want = ls.search(OR_QUERY, k=10)
        s = Searcher(self.spark, IndexCatalog.load(self.root))
        for sub in SUBSTRATES:
            with pytest.MonkeyPatch.context() as mp:
                pin_substrate(mp, sub)
                got = [(int(r.doc_id), float(r.score))
                       for r in s.search(OR_QUERY, k=10).collect()]
            assert got == want, sub


def test_lifecycle(spark):
    Lifecycle.spark = spark
    run_state_machine_as_test(Lifecycle, settings=settings(
        max_examples=4, stateful_step_count=10, derandomize=True,
        deadline=None, database=None, phases=[Phase.generate],
        suppress_health_check=list(HealthCheck)))
