"""Index reader — stats, df lookup, pruned posting fetch.

The posting scan is where "seek" happens in a Spark-native index: the query's
terms map to term_pref directory partitions (pruned at plan time) plus a
``term IN (...)`` predicate pushed into the parquet scan (row-group min/max on
the sorted term column skips within directories). Everything else is tiny
(stats.json, df rows for <=10 query terms).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.functions import bm25
from miru_spark.index.writer import term_pref_py


def _relaxed(schema):
    """The same arrow schema with every field (recursively) nullable.

    A full build's mapInArrow schema declares the chunk columns non-null
    ("required" in parquet), but the delta-merge finalize routes carried
    rows through unionByName + localCheckpoint, which relaxes them to
    "optional" — so an incrementally-updated index legitimately mixes
    required- and optional-field files in one postings dataset. Reading
    with the strict first-fragment schema then fails the nullable→
    non-nullable cast; scanning with the relaxed schema accepts both
    generations (nullability is layout metadata here, never semantics).
    """
    import pyarrow as pa

    def relax(t):
        if pa.types.is_struct(t):
            return pa.struct(
                [pa.field(f.name, relax(f.type), nullable=True) for f in t]
            )
        if pa.types.is_list(t):
            vf = t.value_field
            return pa.list_(pa.field(vf.name, relax(vf.type), nullable=True))
        if pa.types.is_large_list(t):
            vf = t.value_field
            return pa.large_list(
                pa.field(vf.name, relax(vf.type), nullable=True)
            )
        return t

    return pa.schema(
        [pa.field(f.name, relax(f.type), nullable=True) for f in schema]
    )


def lev_dist_bounded(a: str, b: str, max_edits: int) -> int:
    """Exact edit distance when <= ``max_edits``, else ``max_edits + 1`` —
    THE bounded-distance helper shared by spell suggestion (A37) and the
    phrase suggester (A75), so a future semantics change (e.g. Lucene-style
    transpositions) lands in exactly one place."""
    for d in range(max_edits + 1):
        if _lev_within(a, b, d):
            return d
    return max_edits + 1


def _lev_within(a: str, b: str, k: int, transpositions: bool = False) -> bool:
    """Banded Levenshtein: True iff dist(a, b) <= k; early-exits when a DP
    row's minimum exceeds k (Ukkonen's cutoff). ``transpositions`` adds the
    OSA (restricted Damerau) transposition edit — adjacent-swap costs 1 —
    the distance Lucene's FuzzyQuery automata count by default."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > k:
        return False
    prev2: list[int] | None = None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if (
                transpositions
                and i > 1
                and j > 1
                and ca == b[j - 2]
                and a[i - 2] == cb
            ):
                v = min(v, prev2[j - 2] + 1)
            cur.append(v)
        if min(cur) > k:
            return False
        prev2, prev = prev, cur
    return prev[-1] <= k


@dataclass
class TermPostings:
    """One term's posting list as an ordered list of chunk rows (driver-side
    handle). Each row holds what the decoders read — ``blob``, ``codec``,
    the per-block metadata ``bm`` (numpy ``n``/``last``/``off_*``) and,
    on a positional fetch, ``pos_blob``; :meth:`IndexReader.decode_term`
    turns the rows into whole (doc_id, tf, doc_len) columns."""

    term: str
    df: float
    idf: float
    chunks: list = field(default_factory=list)  # rows sorted by bucket


class IndexReader:
    """Index handle. When the index was committed through the snapshot
    protocol (index/snapshots.py), reads are manifest-driven: only the
    current (or the requested ``snapshot_id``) snapshot's data files are
    opened, pruned by each file's recorded term_pref — directory state is
    never trusted. A time-traveled reader scores with ITS snapshot's corpus
    stats. Directory-layout indexes read exactly as before."""

    def __init__(
        self, spark: SparkSession, index_path: str, snapshot_id: int | None = None
    ):
        from miru_spark.index import snapshots as snapmod

        from miru_spark.index.writer import complete_purge_swap

        self.spark = spark
        self.index_path = index_path
        self._snapmod = snapmod
        # roll forward a purge swap a previous process crashed mid-way
        # through (no-op unless the sentinel file exists)
        complete_purge_swap(index_path)
        self.snapshot = snapmod.read_snapshot(index_path, snapshot_id)
        if self.snapshot is not None:
            self.stats = self.snapshot["stats"]
        else:
            if snapshot_id is not None:
                raise FileNotFoundError(
                    f"snapshot {snapshot_id} requested but {index_path} has "
                    "no snapshots"
                )
            with open(f"{index_path}/stats.json") as f:
                self.stats = json.load(f)
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.positions = bool(self.stats.get("positions", False))
        # a time-traveled reader views a HISTORICAL snapshot: tombstones
        # written later must not leak into it
        self._pinned_snapshot = snapshot_id is not None

    # -------------------------------------------------------------- scans --
    def _snapshot_file_list(self, terms: list[str] | None) -> list[str]:
        prefs = None if terms is None else sorted({term_pref_py(t) for t in terms})
        return self._snapmod.snapshot_files(
            self.index_path, self.snapshot["id"], prefs
        )

    def postings_df(self, terms: list[str] | None = None) -> DataFrame:
        if self.snapshot is not None:
            files = self._snapshot_file_list(terms)
            if not files:
                return self._empty_postings_df()
            df = self.spark.read.option(
                "basePath", f"{self.index_path}/postings"
            ).parquet(*files)
            if terms is not None:
                df = df.filter(F.col("term").isin(terms))
            return df
        df = self.spark.read.parquet(f"{self.index_path}/postings")
        if terms is not None:
            prefs = sorted({term_pref_py(t) for t in terms})
            df = df.filter(F.col("term_pref").isin(prefs) & F.col("term").isin(terms))
        return df

    def _empty_postings_df(self) -> DataFrame:
        from pyspark.sql import types as T

        from miru_spark.operators.merge import CHUNK_SCHEMA

        schema = T.StructType(
            [*CHUNK_SCHEMA.fields, T.StructField("term_pref", T.IntegerType())]
        )
        return self.spark.createDataFrame([], schema)

    @property
    def tombstones(self) -> np.ndarray | None:
        """Sorted unique tombstoned doc_ids (writer.delete_docs), or None.
        Loaded once per reader from the tombstones dir (driver-side
        pyarrow); every serving path filters these out (Lucene live-docs
        semantics) until purge_deleted rewrites the index."""
        if not hasattr(self, "_tombstones"):
            import os

            import pyarrow.dataset as pads

            d = f"{self.index_path}/tombstones"
            if self._pinned_snapshot:
                self._tombstones = None  # historical view: docs were live
            elif os.path.isdir(d):
                ids = (
                    pads.dataset(d, format="parquet")
                    .to_table(columns=["doc_id"])
                    .column("doc_id")
                    .to_numpy()
                )
                self._tombstones = np.unique(ids.astype(np.int64))
            else:
                self._tombstones = None
        return self._tombstones

    def tombstones_df(self) -> DataFrame | None:
        """Distinct tombstoned ids as a DataFrame — read straight from the
        on-disk parquet (no driver->JVM row shipping) and cached per
        reader; None when the reader has no applicable tombstones."""
        t = self.tombstones
        if t is None or t.size == 0:
            return None
        if getattr(self, "_tombstones_df", None) is None:
            self._tombstones_df = (
                self.spark.read.parquet(f"{self.index_path}/tombstones")
                .select(F.col("doc_id").cast("long"))
                .distinct()
            )
        return self._tombstones_df

    def docmap_df(self) -> DataFrame:
        # a purge commit records its own docmap version in the snapshot;
        # pre-purge snapshots keep reading the original (full) docmap
        return self.spark.read.parquet(f"{self.index_path}/{self._docmap_dir()}")

    def _docmap_dir(self) -> str:
        if self.snapshot is not None:
            return self.snapshot.get("docmap", "docmap")
        return "docmap"

    def docmap_columns(self) -> list[str]:
        """Metadata column names of the docmap (driver-side schema peek)."""
        return [f.name for f in self._docmap_dset().schema]

    def docmap_int_columns(self) -> set[str]:
        """Integer-typed docmap columns (range-filter bounds coerce to int)."""
        import pyarrow as pa

        return {
            f.name
            for f in self._docmap_dset().schema
            if pa.types.is_integer(f.type)
        }

    def _docmap_dset(self):
        import pyarrow.dataset as pads

        if getattr(self, "_dm_dset", None) is None:
            self._dm_dset = pads.dataset(
                f"{self.index_path}/{self._docmap_dir()}", format="parquet"
            )
        return self._dm_dset

    def filter_doc_ids(self, where: dict) -> np.ndarray:
        """Sorted unique doc_ids whose docmap metadata matches ``where`` —
        the filtered-search allowlist (A34). ``where`` maps column ->
        value (equality), list of values (IN), or ``filters.Range``
        (range, A35); conditions AND together.

        Driver fast path: a pushed-down pyarrow scan of the docmap
        projected to the single doc_id column — row groups whose column
        statistics exclude the predicate are never read, no Spark job.
        Cost class: O(matching docs) driver memory, same class as the
        candidate arrays the scatter-gather path already holds; at cluster
        scale use ``search_distributed(where=...)``, which keeps the
        filter as a distributed semi-join instead of a driver array.
        """
        from miru_spark.filters import arrow_predicate

        cols = set(self.docmap_columns())
        flt = None
        for col, val in where.items():
            if col not in cols:
                raise ValueError(
                    f"unknown docmap column {col!r}; have {sorted(cols)}"
                )
            cond = arrow_predicate(col, val)
            flt = cond if flt is None else flt & cond
        ids = (
            self._docmap_dset()
            .to_table(columns=["doc_id"], filter=flt)
            .column("doc_id")
            .to_numpy()
        )
        return np.unique(ids.astype(np.int64))

    def feature_values(self, field: str) -> np.ndarray:
        """Dense float64 docmap column indexed by doc_id (NaN = id absent
        from the docmap) — the driver-side static-score source for A79
        rank_feature. One float per doc, the same driver-memory cost
        class as ``filter_doc_ids``'s allowlist; the cluster path
        (``search_rank_feature_distributed``) keeps the column as a
        distributed join instead. Cached per (reader, field)."""
        cache = getattr(self, "_feat_cache", None)
        if cache is None:
            cache = self._feat_cache = {}
        if field not in cache:
            if field not in self.docmap_columns():
                raise ValueError(
                    f"unknown docmap column {field!r}; "
                    f"have {sorted(self.docmap_columns())}"
                )
            tbl = self._docmap_dset().to_table(columns=["doc_id", field])
            ids = tbl.column("doc_id").to_numpy().astype(np.int64)
            vals = tbl.column(field).to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            arr = np.full(int(ids.max()) + 1 if ids.size else 0, np.nan)
            arr[ids] = vals
            cache[field] = arr
        return cache[field]

    def df_df(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.index_path}/df")

    def _term_dict(self):
        import pyarrow.dataset as pads

        if getattr(self, "_df_dset", None) is None:
            self._df_dset = pads.dataset(
                f"{self.index_path}/df", format="parquet"
            )
        return self._df_dset

    @staticmethod
    def _range_bound(flt, lit: str):
        """AND a statistics-prunable [lit, succ(lit)) range onto ``flt``
        when the last char has a clean successor (skipped at surrogate /
        plane edges; the caller's exact filter keeps correctness)."""
        import pyarrow.compute as pc

        f = pc.field("term")
        flt = flt & (f >= lit) if flt is not None else (f >= lit)
        last = ord(lit[-1])
        if last < 0xD7FF or 0xE000 <= last < 0x10FFFF:
            flt &= f < (lit[:-1] + chr(last + 1))
        return flt

    def expand_prefix(self, prefix: str, max_terms: int = 1024) -> list[str]:
        """All index terms matching ``prefix*``, from the sorted term
        dictionary (index/df) — driver-side pyarrow read, no Spark job.

        The range bound [prefix, next(prefix)) prunes to the files and
        row-groups whose term min/max statistics overlap (the dictionary
        is written term-sorted by the builder); ``starts_with`` makes the
        match exact. ``max_terms`` caps the scoring-boolean rewrite the
        caller will do — wider prefixes should be narrowed, not silently
        truncated.
        """
        if not prefix:
            raise ValueError("empty prefix")
        import pyarrow.compute as pc

        flt = self._range_bound(
            pc.starts_with(pc.field("term"), prefix), prefix
        )
        terms = sorted(
            self._term_dict().to_table(columns=["term"], filter=flt)
            .column("term")
            .to_pylist()
        )
        if len(terms) > max_terms:
            raise ValueError(
                f"prefix {prefix!r} expands to {len(terms)} terms "
                f"(max_terms={max_terms}); narrow the prefix"
            )
        return terms

    def expand_fuzzy(
        self,
        term: str,
        max_edits: int = 1,
        max_terms: int = 1024,
        transpositions: bool = False,
    ) -> list[str]:
        """Vocabulary terms within ``max_edits`` Levenshtein distance of
        ``term`` (Lucene's ``term~`` fuzzy query). ``transpositions=True``
        counts an adjacent swap as ONE edit (OSA / restricted Damerau —
        ES's default ``fuzziness`` and Lucene's FuzzyQuery automata do the
        same), restricted to ``max_edits=1`` where OSA, full Damerau and
        the Lucene automaton all agree exactly (they can diverge at 2);
        the FastSS candidate set needs no change — every distance-1 pair,
        transpositions included, shares a deletion variant (swap xy/yx:
        delete either swapped char from both).

        Fast path (max_edits=1, ``index/fuzzy`` present — see
        ``writer.build_fuzzy_dictionary``): dist(q,t)<=1 iff their deletion
        neighborhoods intersect (FastSS), so the lookup is |q|+1
        statistics-pruned variant seeks into the sorted neighborhood table,
        then an exact DP verify of the handful of candidates — scales to
        1e9-term vocabularies.

        Fallback: a length band (|len - len(term)| <= max_edits) prefilters
        a columnar scan of the term dictionary; survivors go through a
        banded DP with Ukkonen early-exit. Fine for interactive use up to
        ~1e7-term vocabs. Distributed callers can use ``F.levenshtein``
        over ``df_df()`` instead (JVM-side).
        """
        if not term:
            raise ValueError("empty term")
        if max_edits < 0:
            raise ValueError("max_edits must be >= 0")
        if transpositions and max_edits > 1:
            raise ValueError(
                "transpositions=True supports max_edits<=1 only (OSA and "
                "full Damerau diverge at 2 — pin one before widening)"
            )
        import os

        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        if max_edits == 1 and os.path.isdir(f"{self.index_path}/fuzzy"):
            if getattr(self, "_fuzzy_dset", None) is None:
                self._fuzzy_dset = pads.dataset(
                    f"{self.index_path}/fuzzy", format="parquet"
                )
            variants = sorted(
                {term} | {term[:i] + term[i + 1 :] for i in range(len(term))}
            )
            cands = set(
                self._fuzzy_dset.to_table(
                    columns=["term"],
                    filter=pc.field("variant").isin(variants),
                )
                .column("term")
                .to_pylist()
            )
        else:
            n = len(term)
            length = pc.utf8_length(pc.field("term"))
            flt = (length >= n - max_edits) & (length <= n + max_edits)
            cands = self._term_dict().to_table(
                columns=["term"], filter=flt
            ).column("term").to_pylist()
        out = sorted(
            t
            for t in cands
            if _lev_within(term, t, max_edits, transpositions=transpositions)
        )
        if len(out) > max_terms:
            raise ValueError(
                f"fuzzy {term!r} (<= {max_edits} edits) expands to "
                f"{len(out)} terms (max_terms={max_terms})"
            )
        return out

    def term_dfs(self, terms) -> dict[str, int]:
        """Document frequencies for a handful of terms — one pushed-down
        pyarrow seek into the sorted term dictionary (terms absent from
        the vocabulary are absent from the result)."""
        import pyarrow.compute as pc

        tbl = self._term_dict().to_table(
            columns=["term", "df"],
            filter=pc.field("term").isin(list(terms)),
        )
        return dict(
            zip(tbl.column("term").to_pylist(),
                (int(v) for v in tbl.column("df").to_pylist()))
        )

    def expand_term_range(
        self,
        lo: str,
        hi: str,
        include_lo: bool = True,
        include_hi: bool = True,
        max_terms: int = 1024,
    ) -> list[str]:
        """All index terms in the lexicographic range [lo, hi] (bounds
        optionally exclusive) — Lucene TermRangeQuery's rewrite source.
        The range predicate itself is the statistics prune: the dictionary
        is term-sorted, so only files/row-groups whose term min/max
        overlap [lo, hi] are read."""
        if not lo or not hi or lo > hi:
            raise ValueError("need lo <= hi, both non-empty")
        import pyarrow.compute as pc

        f = pc.field("term")
        flt = (f >= lo) if include_lo else (f > lo)
        flt &= (f <= hi) if include_hi else (f < hi)
        terms = sorted(
            self._term_dict().to_table(columns=["term"], filter=flt)
            .column("term")
            .to_pylist()
        )
        if len(terms) > max_terms:
            raise ValueError(
                f"range [{lo!r}, {hi!r}] expands to {len(terms)} terms "
                f"(> max_terms={max_terms}); narrow the range"
            )
        return terms

    def expand_regex(self, pattern: str, max_terms: int = 1024) -> list[str]:
        """Vocabulary terms fully matching ``pattern`` (grep-style code
        search). The pattern's longest LITERAL prefix (chars before the
        first regex metacharacter) prunes the sorted dictionary exactly
        like a prefix query; survivors go through ``re.fullmatch``. A
        pattern with no literal prefix scans the (columnar) dictionary —
        the same bound every grep-style engine has."""
        import re as _re

        if not pattern:
            raise ValueError("empty pattern")
        rx = _re.compile(pattern)
        meta = set(".^$*+?()[]{}|\\")
        lit = ""
        for ch in pattern:
            if ch in meta:
                break
            lit += ch
        # a quantifier after the last literal char makes that char optional
        # ('slow?' matches 'slo'); a top-level alternation can bypass the
        # prefix entirely ('sort|slow') — in both cases the naive prefix
        # would silently PRUNE true matches
        if lit and len(lit) < len(pattern) and pattern[len(lit)] in "?*{":
            lit = lit[:-1]
        if "|" in pattern:
            lit = ""
        flt = self._range_bound(None, lit) if lit else None
        cands = (
            self._term_dict().to_table(columns=["term"], filter=flt)
            .column("term")
            .to_pylist()
        )
        out = sorted(t for t in cands if rx.fullmatch(t))
        if len(out) > max_terms:
            raise ValueError(
                f"regex {pattern!r} matches {len(out)} terms "
                f"(max_terms={max_terms}); narrow the pattern"
            )
        return out

    # ------------------------------------------------------- driver fetch --
    def fetch_terms(
        self, terms: list[str], with_positions: bool = False
    ) -> dict[str, TermPostings]:
        """Fetch the (few) chunk rows for the query terms — WITHOUT a Spark
        job: a direct pyarrow dataset read of only the pruned term_pref
        directories with a pushed-down ``term IN`` filter. This is the
        low-latency serving path (p50 is milliseconds, not a Spark job);
        at cluster scale the same read hits only the matching parquet
        files+row-groups via their term min/max stats. Use
        plans.search.search_distributed when a query's chunk rows are too
        big to hold on one node.

        ``with_positions`` adds the ``pos_blob`` column; every other query
        skips those bytes entirely (columnar pruning).
        """
        import pyarrow.compute as pc
        import pyarrow.dataset as pads

        if self.snapshot is not None:
            # manifest pruning: open ONLY files whose recorded term_pref
            # matches a query term's prefix (Iceberg partition-summary style)
            files = self._snapshot_file_list(terms)
            if not files:
                return {}
            key = tuple(files)
            if getattr(self, "_dset_key", None) != key:
                # two discovery passes by necessity: replace_schema refuses
                # nullability changes inside nested types (ArrowTypeError:
                # "matching names but differing types"), so the relaxed
                # schema can only be applied by re-opening the dataset
                probe = pads.dataset(files, format="parquet")
                self._dset = pads.dataset(
                    files, format="parquet", schema=_relaxed(probe.schema)
                )
                self._dset_key = key
            dset = self._dset
            flt = pc.field("term").isin(terms)
        else:
            prefs = sorted({term_pref_py(t) for t in terms})
            # the dataset handle (directory listing + schema) is immutable
            # for a committed index — build it once per reader, not per query
            if getattr(self, "_dset", None) is None:
                # two discovery passes by necessity — see the snapshot branch
                probe = pads.dataset(
                    f"{self.index_path}/postings",
                    format="parquet",
                    partitioning="hive",
                )
                self._dset = pads.dataset(
                    f"{self.index_path}/postings",
                    format="parquet",
                    partitioning="hive",
                    schema=_relaxed(probe.schema),
                )
            dset = self._dset
            flt = pc.field("term_pref").isin(prefs) & pc.field("term").isin(terms)
        cols = ["term", "bucket", "codec", "df_chunk", "blob", "blocks"]
        if with_positions:
            cols.append("pos_blob")
        tbl = dset.to_table(columns=cols, filter=flt)
        # COLUMN-WISE materialization: per-block metadata stays numpy (one
        # flatten of the arrow list<struct> column) instead of ~blocks-many
        # Python dicts per query. Each chunk row keeps only what the
        # decoders read: blob, codec, per-block offsets/sizes/last docid
        # (and pos_blob). The chunk-level impacts (i_tf/i_dl) are not
        # read; the distributed block-max prune reads them from its scan.
        tbl = tbl.sort_by([("term", "ascending"), ("bucket", "ascending")])
        terms_l = tbl.column("term").to_pylist()
        codecs = tbl.column("codec").to_pylist()
        dfs = tbl.column("df_chunk").to_pylist()
        blobs = tbl.column("blob").to_pylist()
        pos_blobs = (
            tbl.column("pos_blob").to_pylist() if with_positions else None
        )
        bcol = tbl.column("blocks").combine_chunks()
        row_off = bcol.offsets.to_numpy().astype(np.int64)
        # sv is a StructArray: .field() returns plain (non-chunked) arrays
        sv = bcol.values
        n_np = sv.field("n").to_numpy().astype(np.int64)
        last_np = sv.field("last_docid").to_numpy().astype(np.int64)
        og = sv.field("off_g").to_numpy().astype(np.int64)
        ot = sv.field("off_t").to_numpy().astype(np.int64)
        od = sv.field("off_d").to_numpy().astype(np.int64)
        op = (
            sv.field("off_p").to_numpy().astype(np.int64)
            if "off_p" in {f.name for f in sv.type}
            else np.full(n_np.size, -1, dtype=np.int64)
        )
        out: dict[str, TermPostings] = {}
        for i, term in enumerate(terms_l):
            lo, hi = int(row_off[i]), int(row_off[i + 1])
            r = {
                "codec": codecs[i],
                "blob": blobs[i],
                "bm": {
                    "n": n_np[lo:hi],
                    "last": last_np[lo:hi],
                    "off_g": og[lo:hi],
                    "off_t": ot[lo:hi],
                    "off_d": od[lo:hi],
                    "off_p": op[lo:hi],
                },
            }
            if with_positions:
                r["pos_blob"] = pos_blobs[i]
            tp = out.get(term)
            if tp is None:
                tp = out[term] = TermPostings(term=term, df=0.0, idf=0.0)
            tp.chunks.append(r)
            tp.df += dfs[i]
        for tp in out.values():
            tp.idf = float(bm25.idf_np(tp.df, float(self.n_docs)))
        return out

    def decode_term(self, tp: TermPostings):
        """Full decode -> (docids, tfs, dls) across chunks (exhaustive path)."""
        from miru_spark.index.format import unpack_chunk_bm

        ids, tfs, dls = [], [], []
        for r in tp.chunks:
            i, t, d = unpack_chunk_bm(r["blob"], r["bm"], int(r["codec"]))
            ids.append(i)
            tfs.append(t)
            dls.append(d)
        e = np.empty(0, dtype=np.uint64)
        if not ids:
            return e, e.copy(), e.copy()
        return np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)
