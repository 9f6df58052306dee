"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the implemented operator surface from SURVEY.md §2
over the driver-provided parquet tables; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for each — EVERY entry has one (the LSH
entries embed their seeded hyperplanes/permutations as SQL literals, so
even the approximate-ANN candidate sets are reproduced exactly). The
full-text queries run through the REAL engine path (packed varint index
on disk -> block-max pruned BM25 retrieval), not a shortcut pipeline;
the oracle recomputes BM25 naively in SQL (the documents corpus is
single-space [a-z0-9 ] text, so ``string_split(text, ' ')`` tokenizes
identically to the engine's FTS5 tokenizer).

Float policy: scores are rounded to 4 decimals on BOTH sides and used
as the ordering key with doc_id tie-break, so cross-engine last-ulp
noise cannot flip ranks or hashes. Timestamps are returned as epoch
microseconds (bigint) to avoid tz/representation drift.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # repo-relative imports

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aspublic_spark import BM25_B, BM25_K1
from aspublic_spark.index.build import RAW_FORMAT, IndexBuilder
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.query.parser import parse_fts5, parse_websearch
from aspublic_spark.session import ensure_package

SF0001 = "/root/testdata/sf0.001"

_ENGINES: dict[str, SearchEngine] = {}


def _fingerprint(sf_dir: str, src_name: str = "documents.parquet") -> str:
    """Cache key: full path + size/mtime of the source parquet files, so a
    regenerated corpus at the same path or two sf dirs sharing a basename
    never reuse a stale index."""
    import hashlib

    h = hashlib.md5(os.path.normpath(sf_dir).encode())
    src = os.path.join(sf_dir, src_name)
    paths = [src]
    if os.path.isdir(src):
        paths = [os.path.join(src, n) for n in sorted(os.listdir(src))]
    for p in paths:
        try:
            st = os.stat(p)
            h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
        except OSError:
            pass
    return h.hexdigest()[:16]


def _build_cached_engine(
    spark: SparkSession,
    sf_dir: str,
    cache_tag: str,
    docs_transform,
    builder_kwargs: dict,
) -> SearchEngine:
    """Build (once per sf_dir+variant) and cache an index over documents.

    The on-disk cache dir is keyed by layout tag + the index's raw
    postings format + input fingerprint (stale-reuse safe: an index of
    another format is never reopened); the build lands in a unique
    temp dir and is
    atomically renamed so concurrent driver processes never see a
    half-built index."""
    key = os.path.normpath(sf_dir) + "#" + cache_tag
    if key in _ENGINES:
        return _ENGINES[key]
    ensure_package(spark)
    idx = os.path.join(
        "/tmp",
        f"aspublic_idx_{cache_tag}_f{RAW_FORMAT}_" + _fingerprint(os.path.normpath(sf_dir)),
    )
    if not os.path.exists(os.path.join(idx, "index_meta.json")):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        docs = docs_transform(docs)
        tmp = idx + f".build.{os.getpid()}"
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        IndexBuilder(spark, tmp, **builder_kwargs).build(docs)
        try:
            os.rename(tmp, idx)
        except OSError:  # a concurrent process won the race: use theirs
            shutil.rmtree(tmp, ignore_errors=True)
    eng = SearchEngine(spark, idx)
    _ENGINES[key] = eng
    return eng


def _documents_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    return _build_cached_engine(
        spark, sf_dir, "v7",
        lambda d: d,
        # n_slices auto-sizes by corpus volume (build.py: ~1M docs/slice,
        # floor 8) — the measured optimum at these corpus sizes
        dict(key_cols=["doc_id"], text_col="text",
             meta_cols=["lang", "source", "n_chars"]),
    )


def _documents_engine_2f(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Two-field index over documents: text + a derived subject column
    (source + lang), matching the reference's fts5(text, subject)
    two-column index (common/db_sqlite.py:27-41)."""
    return _build_cached_engine(
        spark, sf_dir, "2f_v5",
        lambda d: d.withColumn("subject", F.concat_ws(" ", "source", "lang")),
        dict(key_cols=["doc_id"], text_cols=["text", "subject"],
             meta_cols=["lang", "source", "n_chars"]),
    )


def _documents_engine_2fo(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Two-field index whose subject OVERLAPS the text vocabulary
    (source + lang + the text's first word) — the corpus where a
    column filter is load-bearing: `subject:<word>` must match and
    score differently from plain `<word>`."""
    return _build_cached_engine(
        spark, sf_dir, "2fo_v1",
        lambda d: d.withColumn(
            "subject",
            F.concat_ws(" ", "source", "lang", F.split("text", " ")[0]),
        ),
        dict(key_cols=["doc_id"], text_cols=["text", "subject"],
             meta_cols=["lang", "source", "n_chars"]),
    )


def _fts(spark, sf_dir, q, k=20, parser=None, engine_fn=None, **kw) -> DataFrame:
    eng = (engine_fn or _documents_engine)(spark, sf_dir)
    kwargs = dict(kw)
    if parser is not None:
        kwargs["parser"] = parser
    # Over-fetch: the engine ranks by RAW score, the oracle by the
    # 4dp-ROUNDED score with doc_id tie-break. Docs straddling the
    # k-boundary with raw scores equal past the 4th decimal could
    # otherwise land in different top-k sets on the two sides; the
    # margin makes the post-rounding sort see every contender.
    res = eng.search(q, k=min(k + 50, 100), **kwargs).df
    return (
        res.withColumn("score_r", F.round(F.col("score"), 4))
        .orderBy(F.col("score_r").desc(), F.col("doc_id").asc())
        .limit(k)
        .select(F.col("doc_id").cast("long").alias("doc_id"), F.col("score_r").alias("score"))
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 AND-query through the packed index at sf0.001."""
    return _fts(spark, SF0001, "hash join", k=50)


# ---------------------------------------------------------------------------
# oracle SQL builder for BM25 over the documents view
# ---------------------------------------------------------------------------

def _bm25_sql(
    terms: list[str],
    and_terms: list[str] | None = None,
    or_groups: list[list[str]] | None = None,
    not_terms: list[str] | None = None,
    not_groups: list[list[str]] | None = None,
    phrase: list[str] | None = None,
    or_mixed: list[tuple[list[str], list[list[str]]]] | None = None,
    near: tuple[list[str], int] | None = None,
    anchor: list[str] | None = None,
    doc_filter: str | None = None,
    bool_where: str | None = None,
    k: int = 20,
) -> str:
    """DuckDB SQL computing the exact same BM25 top-k as the engine.

    ``or_mixed``: OR groups whose alternatives include ADJACENT phrases
    — (term_alternatives, phrase_alternatives) per group, the oracle
    for parser.py's or_groups/or_phrase_groups pairs."""
    all_pos = sorted(set(terms))
    in_list = ",".join(f"'{t}'" for t in all_pos)
    and_terms = and_terms or []
    not_terms = not_terms or []
    having = []
    if and_terms:
        al = ",".join(f"'{t}'" for t in sorted(set(and_terms)))
        having.append(
            f"count(distinct term) filter (where term in ({al})) = {len(set(and_terms))}"
        )
    for g in or_groups or []:
        gl = ",".join(f"'{t}'" for t in sorted(set(g)))
        having.append(f"count(*) filter (where term in ({gl})) > 0")
    having_sql = ("having " + " and ".join(having)) if having else ""
    not_sql = ""
    if not_terms:
        nl = ",".join(f"'{t}'" for t in sorted(set(not_terms)))
        not_sql = (
            f"and s.doc_id not in (select doc_id from tok where term in ({nl}))"
        )
    for g in not_groups or []:
        gset = sorted(set(g))
        gl = ",".join(f"'{t}'" for t in gset)
        # conjunctive NOT group: exclude docs containing ALL group terms
        # (sqlite-backend negated-phrase semantics, parser.py)
        not_sql += (
            f" and s.doc_id not in (select doc_id from tok where term in ({gl})"
            f" group by doc_id having count(distinct term) = {len(gset)})"
        )
    def _phrase_subq(ph: list[str]) -> str:
        conds = " and ".join(
            f"p{i}.term = '{t}' and p{i}.pos = p0.pos + {i}"
            for i, t in enumerate(ph)
            if i > 0
        )
        joins = " ".join(
            f"join tokpos p{i} on p{i}.doc_id = p0.doc_id" for i in range(1, len(ph))
        )
        return (
            "select distinct p0.doc_id from tokpos p0 "
            + joins
            + f" where p0.term = '{ph[0]}' and "
            + conds
        )

    phrase_sql = ""
    if phrase:
        phrase_sql = f"and s.doc_id in ({_phrase_subq(phrase)})"
    if near:
        # FTS5 NEAR(t1..tk, n), live-probe-pinned semantics: one
        # occurrence per DISTINCT operand within max-min <= n+1
        # (single-field; the documents corpus is single-field so the
        # tokpos join needs no field key)
        nterms, nn = near
        uniq = sorted(set(nterms))
        joins = " ".join(
            f"join tokpos n{i} on n{i}.doc_id = n0.doc_id"
            for i in range(1, len(uniq))
        )
        conds = " and ".join(f"n{i}.term = '{t}'" for i, t in enumerate(uniq))
        poss = ", ".join(f"n{i}.pos" for i in range(len(uniq)))
        phrase_sql += (
            f" and s.doc_id in (select distinct n0.doc_id from tokpos n0 "
            f"{joins} where {conds} "
            f"and greatest({poss}) - least({poss}) <= {int(nn) + 1})"
        )
    if anchor:
        # FTS5 ^-anchor: the term/phrase starts a column (this corpus
        # is single-field, so: position 0 of text)
        if len(anchor) == 1:
            phrase_sql += (
                f" and s.doc_id in (select distinct doc_id from tokpos "
                f"where term = '{anchor[0]}' and pos = 0)"
            )
        else:
            phrase_sql += (
                f" and s.doc_id in ({_phrase_subq(anchor)} and p0.pos = 0)"
            )
    for tg, pgs in or_mixed or []:
        parts = []
        if tg:
            gl = ",".join(f"'{t}'" for t in sorted(set(tg)))
            parts.append(f"s.doc_id in (select doc_id from tok where term in ({gl}))")
        for ph in pgs:
            parts.append(f"s.doc_id in ({_phrase_subq(ph)})")
        phrase_sql += " and (" + " or ".join(parts) + ")"
    filt = f"and {doc_filter}" if doc_filter else ""
    if bool_where:
        # raw-FTS5 boolean-tree qualification (engine tree path): an
        # arbitrary boolean over `s.doc_id in (select ... from tok)`
        # membership subqueries — scoring stays sum-of-present terms
        filt += f" and ({bool_where})"
    return f"""
with tokpos as (
  select d.doc_id, t.term, t.pos
  from (select doc_id, string_split(text, ' ') toks from documents) d,
  lateral (select unnest(d.toks) as term, generate_subscripts(d.toks, 1) - 1 as pos) t
),
tok as (select doc_id, term from tokpos),
dl as (select doc_id, count(*) as dl from tok group by doc_id),
stats as (
  select count(*) as n_docs, avg(coalesce(l.dl, 0)) as avgdl
  from documents d left join dl l using (doc_id)
),
tf as (
  select doc_id, term, count(*) as tf from tok
  where term in ({in_list}) group by doc_id, term
),
dfreq as (
  select term, count(distinct doc_id) as df from tok
  where term in ({in_list}) group by term
),
scored as (
  select t.doc_id,
         sum(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
             * t.tf * {BM25_K1 + 1.0}
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))) as score
  from tf t
  join dfreq f using (term)
  join dl l using (doc_id)
  cross join stats s
  group by t.doc_id
  {having_sql}
)
select s.doc_id, round(s.score, 4) as score
from scored s join documents d on s.doc_id = d.doc_id
where true {not_sql} {phrase_sql} {filt}
order by round(s.score, 4) desc, s.doc_id asc
limit {k}
"""


def _bm25_col_filter_sql(free: str, restricted: str, k: int = 20) -> str:
    """Oracle for `subject:<restricted> <free>` on the OVERLAPPING
    two-field index (subject = source + lang + first text word):
    ``free`` scores in both fields, ``restricted`` matches AND scores
    in subject only; qualification needs both."""
    return f"""
with docs2 as (
  select doc_id, text,
         source || ' ' || lang || ' ' || string_split(text, ' ')[1] as subject
  from documents
),
tok0 as (
  select doc_id, unnest(string_split(text, ' ')) as term from docs2
),
tok1 as (
  select doc_id, unnest(string_split(subject, ' ')) as term from docs2
),
dl0 as (select doc_id, count(*) as dl from tok0 group by doc_id),
dl1 as (select doc_id, count(*) as dl from tok1 group by doc_id),
st as (
  select (select count(*) from docs2) as n,
         (select sum(dl) from dl0) * 1.0 / (select count(*) from docs2) as avg0,
         (select sum(dl) from dl1) * 1.0 / (select count(*) from docs2) as avg1
),
contrib as (
  select t.doc_id, t.term,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg0)) as w
  from (select doc_id, term, count(*) as tf from tok0
        where term = '{free}' group by doc_id, term) t
  join (select term, count(distinct doc_id) as df from tok0
        where term = '{free}' group by term) f using (term)
  join dl0 l using (doc_id)
  cross join st s
  union all
  select t.doc_id, t.term,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg1)) as w
  from (select doc_id, term, count(*) as tf from tok1
        where term in ('{free}', '{restricted}') group by doc_id, term) t
  join (select term, count(distinct doc_id) as df from tok1
        where term in ('{free}', '{restricted}') group by term) f using (term)
  join dl1 l using (doc_id)
  cross join st s
)
select doc_id, round(sum(w), 4) as score
from contrib
group by doc_id
having count(distinct term) = 2
order by round(sum(w), 4) desc, doc_id asc
limit {k}
"""


def _bm25_col_conflict_sql(term: str, k: int = 20) -> str:
    """Oracle for ``subject:<term> <term>`` — the same term both
    column-filtered and free, which FTS5 treats as two independent
    phrases (the flat model can't express it; parse_fts5 keeps the
    tree and the engine applies PER-LEAF restrictions): qualification
    needs the subject leaf (the free leaf is implied by it), and the
    term scores over the UNION of the scoring leaves' fields — BOTH
    columns, unlike fts_col_filter's subject-only scoring."""
    return f"""
with docs2 as (
  select doc_id, text,
         source || ' ' || lang || ' ' || string_split(text, ' ')[1] as subject
  from documents
),
tok0 as (
  select doc_id, unnest(string_split(text, ' ')) as term from docs2
),
tok1 as (
  select doc_id, unnest(string_split(subject, ' ')) as term from docs2
),
dl0 as (select doc_id, count(*) as dl from tok0 group by doc_id),
dl1 as (select doc_id, count(*) as dl from tok1 group by doc_id),
st as (
  select (select count(*) from docs2) as n,
         (select sum(dl) from dl0) * 1.0 / (select count(*) from docs2) as avg0,
         (select sum(dl) from dl1) * 1.0 / (select count(*) from docs2) as avg1
),
contrib as (
  select t.doc_id,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg0)) as w
  from (select doc_id, count(*) as tf from tok0
        where term = '{term}' group by doc_id) t
  join (select count(distinct doc_id) as df from tok0
        where term = '{term}') f on true
  join dl0 l using (doc_id)
  cross join st s
  union all
  select t.doc_id,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg1)) as w
  from (select doc_id, count(*) as tf from tok1
        where term = '{term}' group by doc_id) t
  join (select count(distinct doc_id) as df from tok1
        where term = '{term}') f on true
  join dl1 l using (doc_id)
  cross join st s
)
select doc_id, round(sum(w), 4) as score
from contrib
where doc_id in (select doc_id from tok1 where term = '{term}')
group by doc_id
order by round(sum(w), 4) desc, doc_id asc
limit {k}
"""


def _bm25_col_exclude_sql(free: str, restricted: str, k: int = 20) -> str:
    """Oracle for `-subject:<restricted> <free>` on the OVERLAPPING
    two-field index: the exclusion resolves to {text}, so
    ``restricted`` matches AND scores in text only while ``free``
    scores in both fields (probed FTS5 `-col:` semantics: match in
    any column NOT listed)."""
    return f"""
with docs2 as (
  select doc_id, text,
         source || ' ' || lang || ' ' || string_split(text, ' ')[1] as subject
  from documents
),
tok0 as (
  select doc_id, unnest(string_split(text, ' ')) as term from docs2
),
tok1 as (
  select doc_id, unnest(string_split(subject, ' ')) as term from docs2
),
dl0 as (select doc_id, count(*) as dl from tok0 group by doc_id),
dl1 as (select doc_id, count(*) as dl from tok1 group by doc_id),
st as (
  select (select count(*) from docs2) as n,
         (select sum(dl) from dl0) * 1.0 / (select count(*) from docs2) as avg0,
         (select sum(dl) from dl1) * 1.0 / (select count(*) from docs2) as avg1
),
contrib as (
  select t.doc_id, t.term,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg0)) as w
  from (select doc_id, term, count(*) as tf from tok0
        where term in ('{free}', '{restricted}') group by doc_id, term) t
  join (select term, count(distinct doc_id) as df from tok0
        where term in ('{free}', '{restricted}') group by term) f using (term)
  join dl0 l using (doc_id)
  cross join st s
  union all
  select t.doc_id, t.term,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg1)) as w
  from (select doc_id, term, count(*) as tf from tok1
        where term = '{free}' group by doc_id, term) t
  join (select term, count(distinct doc_id) as df from tok1
        where term = '{free}' group by term) f using (term)
  join dl1 l using (doc_id)
  cross join st s
)
select doc_id, round(sum(w), 4) as score
from contrib
group by doc_id
having count(distinct term) = 2
order by round(sum(w), 4) desc, doc_id asc
limit {k}
"""


def _bm25_prefix_sql(stem: str, and_term: str, k: int = 20) -> str:
    """Oracle for the FTS5 prefix query `<stem>* <and_term>`: the stem
    scores as ONE virtual term — tf summed over every token LIKE
    'stem%' per doc, df = distinct matching docs (FTS5's bm25 counts a
    prefix as a single phrase, pinned by live probe); the free term
    scores normally; qualification needs both."""
    return f"""
with tok as (
  select doc_id, unnest(string_split(text, ' ')) as term from documents
),
dl as (select doc_id, count(*) as dl from tok group by doc_id),
stats as (
  select count(*) as n_docs, avg(coalesce(l.dl, 0)) as avgdl
  from documents d left join dl l using (doc_id)
),
tfa as (select doc_id, count(*) as tf from tok where term = '{and_term}' group by doc_id),
dfa as (select count(distinct doc_id) as df from tok where term = '{and_term}'),
tfv as (select doc_id, count(*) as tf from tok where term like '{stem}%' group by doc_id),
dfv as (select count(distinct doc_id) as df from tok where term like '{stem}%'),
contrib as (
  select t.doc_id,
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)) as w
  from tfa t cross join dfa f join dl l using (doc_id) cross join stats s
  union all
  select t.doc_id,
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)) as w
  from tfv t cross join dfv f join dl l using (doc_id) cross join stats s
),
scored as (
  select doc_id, sum(w) as score from contrib group by doc_id
  having count(*) = 2
)
select doc_id, round(score, 4) as score from scored
order by round(score, 4) desc, doc_id asc
limit {k}
"""


def _bm25_two_field_sql(terms: list[str], k: int = 20) -> str:
    """DuckDB SQL mirroring the two-field engine: per-field df/tf/dl/
    avgdl (denominated over ALL docs), score = BM25_text + BM25_subject
    (weights 1.0, the FTS5 default), AND qualification across fields."""
    in_list = ",".join(f"'{t}'" for t in sorted(set(terms)))
    n_terms = len(set(terms))
    return f"""
with docs2 as (
  select doc_id, text, source || ' ' || lang as subject from documents
),
tok0 as (
  select doc_id, unnest(string_split(text, ' ')) as term from docs2
),
tok1 as (
  select doc_id, unnest(string_split(subject, ' ')) as term from docs2
),
dl0 as (select doc_id, count(*) as dl from tok0 group by doc_id),
dl1 as (select doc_id, count(*) as dl from tok1 group by doc_id),
st as (
  select (select count(*) from docs2) as n,
         (select sum(dl) from dl0) * 1.0 / (select count(*) from docs2) as avg0,
         (select sum(dl) from dl1) * 1.0 / (select count(*) from docs2) as avg1
),
contrib as (
  select t.doc_id, t.term,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg0)) as w
  from (select doc_id, term, count(*) as tf from tok0
        where term in ({in_list}) group by doc_id, term) t
  join (select term, count(distinct doc_id) as df from tok0
        where term in ({in_list}) group by term) f using (term)
  join dl0 l using (doc_id)
  cross join st s
  union all
  select t.doc_id, t.term,
         ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
           * t.tf * {BM25_K1 + 1.0}
           / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avg1)) as w
  from (select doc_id, term, count(*) as tf from tok1
        where term in ({in_list}) group by doc_id, term) t
  join (select term, count(distinct doc_id) as df from tok1
        where term in ({in_list}) group by term) f using (term)
  join dl1 l using (doc_id)
  cross join st s
)
select doc_id, round(sum(w), 4) as score
from contrib
group by doc_id
having count(distinct term) = {n_terms}
order by round(sum(w), 4) desc, doc_id asc
limit {k}
"""


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def docs(spark, sf):
        return spark.read.parquet(os.path.join(sf, "documents.parquet"))

    def events(spark, sf):
        return spark.read.parquet(os.path.join(sf, "events.parquet"))

    q: dict[str, Callable] = {}

    # -- full-text search family (Q1-Q11 of SURVEY §2.3) ----------------
    q["fts_single_term"] = lambda spark, sf: _fts(spark, sf, "dup", k=20)
    q["fts_and"] = lambda spark, sf: _fts(spark, sf, "hash join", k=20)
    q["fts_and_not"] = lambda spark, sf: _fts(spark, sf, "hash join !sort", k=20)
    q["fts_or"] = lambda spark, sf: _fts(
        spark, sf, "dup OR vector", k=20, parser=parse_websearch
    )
    q["fts_phrase"] = lambda spark, sf: _fts(spark, sf, '"hash join"', k=20)
    # phrase ALTERNATIVE inside an OR group keeps adjacency
    # (websearch_to_tsquery `a <-> b` inside OR, db_postgres.py:114)
    q["fts_or_phrase"] = lambda spark, sf: _fts(
        spark, sf, '"hash join" OR dup', k=20, parser=parse_websearch
    )
    q["fts_not_group"] = lambda spark, sf: _fts(spark, sf, 'table !"hash join"', k=20)
    # FTS5 proximity operator (raw-FTS5 surface the sqlite backend's
    # MATCH accepts, db_sqlite.py:131): one occurrence of each operand
    # within a window, any order — strictly wider than the phrase
    q["fts_near"] = lambda spark, sf: _fts(
        spark, sf, "NEAR(hash join, 2)", k=20, parser=parse_fts5
    )
    # FTS5 ^-anchor: the term must START the document's text column
    q["fts_anchor"] = lambda spark, sf: _fts(
        spark, sf, "^key", k=20, parser=parse_fts5
    )
    # FTS5 column filter on an index whose subject overlaps the text
    # vocabulary: 'table' restricted to subject (= docs whose FIRST
    # text word is 'table'), 'query' unrestricted — both the match set
    # and the scores differ from the unfiltered query
    q["fts_col_filter"] = lambda spark, sf: _fts(
        spark, sf, "subject:table query", k=20, parser=parse_fts5,
        engine_fn=_documents_engine_2fo,
    )
    # FTS5 prefix query: `s*` expands against the dictionary (scan,
    # small, slow, sort, spark, stream, ...) and scores as ONE virtual
    # term — tf summed over matching tokens, df = distinct matching
    # docs, exactly FTS5's single-phrase bm25 accounting (probed)
    q["fts_prefix"] = lambda spark, sf: _fts(
        spark, sf, "s* dup", k=20, parser=parse_fts5
    )
    # FTS5 column EXCLUSION on the same overlapping index: -subject:
    # resolves to {text}, so 'table' matches and scores in text only
    # — different match set AND ranks from both the unfiltered and the
    # subject-restricted forms
    q["fts_col_exclude"] = lambda spark, sf: _fts(
        spark, sf, "-subject:table query", k=20, parser=parse_fts5,
        engine_fn=_documents_engine_2fo,
    )
    # raw-FTS5 boolean tree (engine generic-evaluation path): the
    # structure `a OR (b NOT c)` cannot lower into the flat
    # ParsedQuery model, so the engine compiles the expression tree to
    # one Catalyst boolean over per-doc term flags; 'sort' is a
    # non-scoring (NOT-side) leaf — present docs on the `vector`
    # branch are excluded, but 'sort' never contributes to the score
    q["fts_bool_tree"] = lambda spark, sf: _fts(
        spark, sf, "dup OR (vector NOT sort)", k=20, parser=parse_fts5
    )
    # the same term both column-filtered AND free: two independent
    # FTS5 phrases (per-leaf restrictions in the tree path) — the term
    # must match in subject but scores over BOTH columns, unlike
    # fts_col_filter's subject-only scoring
    q["fts_col_conflict"] = lambda spark, sf: _fts(
        spark, sf, "subject:table table", k=20, parser=parse_fts5,
        engine_fn=_documents_engine_2fo,
    )
    # two-field index (text + derived subject): 'src3' only exists in
    # the subject field, so the AND can only be satisfied cross-field
    q["fts_two_field"] = lambda spark, sf: _fts(
        spark, sf, "table src3", k=20, engine_fn=_documents_engine_2f
    )
    q["fts_filtered"] = lambda spark, sf: _fts(
        spark, sf, "table", k=20, extra_filter=F.col("lang") == "en"
    )

    # -- structured-only operators (Q6/Q7/Q10 analogs on events) --------
    def topk_recency(spark, sf):
        return (
            events(spark, sf)
            .filter(F.col("event_type") == "signup")
            .orderBy(F.col("ts").desc(), F.col("event_id").asc())
            .limit(50)
            .select(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
                F.round("value", 4).alias("value"),
            )
        )

    q["topk_recency"] = topk_recency

    def retention_prune_count(spark, sf):
        # mid-range cutoff (events span Jan 2024): the prune keeps ~half
        # and drops ~half, so the oracle check is non-vacuous
        cutoff = "2024-01-16 00:00:00"
        return (
            events(spark, sf)
            .filter(F.col("ts") >= F.lit(cutoff).cast("timestamp"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
        )

    q["retention_prune_count"] = retention_prune_count

    # -- ingest-side operators (I4/I6/I7, S9) ----------------------------
    def policy_filter(spark, sf):
        # accept: lang in (en, fr); reject: text matching 'slow.*error|dup'
        d = docs(spark, sf)
        return (
            d.filter(F.col("lang").isin("en", "fr"))
            .filter(~F.col("text").rlike("slow .* error|dup"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"))
        )

    q["policy_filter"] = policy_filter

    def dedup_exact(spark, sf):
        # exact dedup by text hash: keep min doc_id per distinct text.
        # The synthetic corpus has no exact duplicates, so plant some
        # deterministically (both sides of the oracle do the same):
        # every doc_id < 100 gets a shifted-id copy -> 100 dup groups.
        d = docs(spark, sf)
        dup = d.filter(F.col("doc_id") < 100).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
        return (
            d.unionByName(dup)
            .groupBy("text")
            .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
            .filter(F.col("n_copies") > 1)
            .select("keep_id", "n_copies")
        )

    q["dedup_exact"] = dedup_exact

    def token_count_by_lang(spark, sf):
        d = docs(spark, sf)
        return (
            d.select("lang", F.size(F.split("text", " ")).alias("n_tok"))
            .groupBy("lang")
            .agg(F.sum("n_tok").alias("total_tokens"), F.count("*").alias("n_docs"))
        )

    q["token_count_by_lang"] = token_count_by_lang

    def json_normalize(spark, sf):
        # T6 end-to-end: synthesize a status JSON payload per document
        # (deterministically, from table columns), then run the real
        # from_json + casts + HTML->text pipeline on it
        from aspublic_spark.functions.json_hooks import normalize_status_json

        d = docs(spark, sf).filter(F.col("doc_id") < 100)
        payload = F.to_json(
            F.struct(
                F.concat(F.lit("https://inst.example/"), F.col("doc_id")).alias("url"),
                F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("content"),
                F.col("lang").alias("language"),
                F.lit("2024-03-01T00:00:00Z").alias("created_at"),
            )
        )
        return normalize_status_json(d.select(payload.alias("value")))

    q["json_normalize"] = json_normalize

    # -- dedup family ----------------------------------------------------
    def minhash_signatures(spark, sf):
        from aspublic_spark.operators.dedup import minhash_signatures as mh

        d = docs(spark, sf).filter(F.col("doc_id") < 50)
        sigs = mh(d, n_hashes=8, shingle_k=3, seed=42)
        return sigs.select(
            "doc_id", *[F.col("sig")[i].alias(f"h{i}") for i in range(8)]
        )

    q["minhash_signatures"] = minhash_signatures

    def ngram_jaccard_pairs(spark, sf):
        from aspublic_spark.operators.dedup import ngram_jaccard

        d = docs(spark, sf).filter(F.col("text").rlike("(^| )dup( |$)"))
        ids = d.select(F.col("doc_id").alias("id1"))
        pairs = ids.crossJoin(d.select(F.col("doc_id").alias("id2"))).filter(
            F.col("id1") < F.col("id2")
        )
        return ngram_jaccard(d, pairs, shingle_k=2).filter(F.col("jaccard") >= 0.05)

    q["ngram_jaccard_pairs"] = ngram_jaccard_pairs

    # -- similarity search ------------------------------------------------
    def ann_cosine_topk(spark, sf):
        from aspublic_spark.operators.similarity import brute_force_topk

        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        return brute_force_topk(emb, qv, k=25)

    q["ann_cosine_topk"] = ann_cosine_topk

    def knn_join_topk(spark, sf):
        from aspublic_spark.operators.similarity import knn_join_brute

        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        queries_side = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        return knn_join_brute(emb, queries_side, k=5)

    q["knn_join_topk"] = knn_join_topk

    # -- text analysis ----------------------------------------------------
    def lang_id_counts(spark, sf):
        from aspublic_spark.functions.textstats import lang_id

        d = docs(spark, sf)
        return d.groupBy(lang_id(F.col("text")).alias("pred_lang")).agg(
            F.count("*").alias("n")
        )

    q["lang_id_counts"] = lang_id_counts

    def quality_by_lang(spark, sf):
        from aspublic_spark.functions.textstats import quality_score

        d = docs(spark, sf)
        return d.groupBy("lang").agg(
            F.round(F.avg(quality_score(F.col("text"))), 4).alias("avg_quality")
        )

    q["quality_by_lang"] = quality_by_lang

    def pipeline_clean_corpus(spark, sf):
        """Composite training-data cleaning pipeline — the operators
        compose end-to-end: plant exact duplicates -> exact dedup by
        normalized content fingerprint (keep smallest doc_id) ->
        language id (drop 'und') -> quality gate (>= 0.7, chosen to bite on this corpus) ->
        per-language survivor stats. One window + one groupBy; every
        stage is the same Catalyst expression its standalone entry
        uses, so the whole pipeline stays DuckDB-reproducible."""
        from pyspark.sql import Window

        from aspublic_spark.functions.textstats import (
            lang_id,
            md5_fingerprint,
            quality_score,
        )

        base = docs(spark, sf).select("doc_id", "text")
        dup = base.filter(F.col("doc_id") < 100).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
        u = base.unionByName(dup)
        w = Window.partitionBy("fp").orderBy("doc_id")
        kept = (
            u.withColumn("fp", md5_fingerprint(F.col("text")))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
        )
        scored = kept.withColumn("pred_lang", lang_id(F.col("text"))).withColumn(
            "q", quality_score(F.col("text"))
        )
        lang_f = scored.filter(F.col("pred_lang") != "und")
        qual_f = lang_f.filter(F.col("q") >= 0.7)
        # stage funnel: rows surviving each stage, plus per-language
        # survivor counts — every stage's bite is hash-checked
        funnel = None
        for nm, sdf in (
            ("00_input", u),
            ("01_exact_dedup", kept),
            ("02_lang_id", lang_f),
            ("03_quality", qual_f),
        ):
            part = sdf.agg(F.count("*").alias("n_docs")).select(
                F.lit(nm).alias("stage"), "n_docs"
            )
            funnel = part if funnel is None else funnel.unionByName(part)
        per_lang = (
            qual_f.groupBy("pred_lang")
            .agg(F.count("*").alias("n_docs"))
            .select(
                F.concat(F.lit("04_lang_"), F.col("pred_lang")).alias("stage"),
                "n_docs",
            )
        )
        return funnel.unionByName(per_lang)

    q["pipeline_clean_corpus"] = pipeline_clean_corpus

    def fingerprints(spark, sf):
        from aspublic_spark.functions.textstats import md5_fingerprint

        d = docs(spark, sf).filter(F.col("doc_id") < 100)
        return d.select("doc_id", md5_fingerprint(F.col("text")).alias("fp"))

    q["fingerprints"] = fingerprints

    def window_counts(spark, sf):
        # tumbling 6h windows: the batch shape of the streaming
        # windowed-agg path (same plan under readStream)
        return (
            events(spark, sf)
            .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("w_start"),
                "event_type",
                "n",
                "total",
            )
        )

    q["window_counts"] = window_counts

    def simhash_fingerprints(spark, sf):
        # portable 32-bit variant (md5-derived token hash) so DuckDB can
        # reproduce fingerprints bit-exactly; the 64-bit xxhash variant
        # stays the engine-internal default
        from aspublic_spark.operators.dedup import simhash

        return simhash(
            docs(spark, sf).filter(F.col("doc_id") < 200), n_bits=32, portable=True
        )

    q["simhash_fingerprints"] = simhash_fingerprints

    def lsh_ann_topk(spark, sf):
        from aspublic_spark.operators.similarity import lsh_topk

        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        return lsh_topk(emb, qv, k=10, n_planes=8, n_tables=8, multiprobe=1)

    q["lsh_ann_topk"] = lsh_ann_topk

    def lsh_ann_topk_indexed(spark, sf):
        # same parameters as lsh_ann_topk but served from a persisted
        # bucket-column index (built once, queried with a pushed-down
        # column filter) — results are identical, so it shares that
        # oracle
        from aspublic_spark.operators.similarity import (
            build_lsh_index,
            lsh_topk_indexed,
        )

        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
        import tempfile

        # cache keyed by index params + a content fingerprint of the
        # source parquet (size/mtime): a regenerated corpus or changed
        # plane params can never serve a stale persisted index
        idx_path = os.path.join(
            tempfile.gettempdir(),
            "lsh_idx_p8t8s42_" + _fingerprint(sf, "embeddings.parquet"),
        )
        if not os.path.isdir(idx_path):
            build_lsh_index(emb, n_planes=8, n_tables=8).write.mode(
                "overwrite"
            ).parquet(idx_path)
        idx = spark.read.parquet(idx_path)
        return lsh_topk_indexed(idx, qv, k=10, n_planes=8, n_tables=8, multiprobe=1)

    q["lsh_ann_topk_indexed"] = lsh_ann_topk_indexed

    def minhash_lsh_dup_pairs(spark, sf):
        from aspublic_spark.operators.dedup import minhash_dedup

        d = docs(spark, sf)
        _, pairs = minhash_dedup(d, n_hashes=32, bands=8, shingle_k=2, threshold=0.35)
        return pairs

    q["minhash_lsh_dup_pairs"] = minhash_lsh_dup_pairs

    def embedding_near_dup(spark, sf):
        # near-duplicate vector pairs via LSH buckets + exact cosine.
        # Random synthetic embeddings have no near-dups, so plant 20
        # deterministic shifted-id copies (both oracle sides agree);
        # bucket_cap=None = oracle-exact mode (no capping heuristics)
        from aspublic_spark.operators.similarity import embedding_near_dup_pairs

        emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        dup = emb.filter(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + F.lit(10_000_000)
        )
        allv = emb.unionByName(dup)
        return embedding_near_dup_pairs(
            allv, threshold=0.95, n_planes=10, seed=7, bucket_cap=None
        )

    q["embedding_near_dup"] = embedding_near_dup

    def dedup_clusters(spark, sf):
        # connected components over the verified near-dup pairs: every
        # doc in a duplicate cluster maps to the cluster's smallest id
        # (the oracle reproduces the closure with a recursive CTE)
        from aspublic_spark.operators.dedup import (
            connected_components,
            minhash_dedup,
        )

        d = docs(spark, sf)
        _, pairs = minhash_dedup(
            d, n_hashes=32, bands=8, shingle_k=2, threshold=0.35
        )
        return connected_components(pairs.select("id1", "id2"))

    q["dedup_clusters"] = dedup_clusters

    def discover_domains_capped(spark, sf):
        # S4: domain auto-discovery as a pure DataFrame projection —
        # urls synthesized deterministically from documents (both oracle
        # sides agree): hostN.example (N = doc_id % 40), every 7th with
        # an explicit scheme, every 11th on an excluded .spam suffix
        from aspublic_spark.sources.discovery import discover_domains

        d = docs(spark, sf)
        url = F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit("https://")).otherwise(F.lit("")),
            F.lit("host"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(".spam")).otherwise(
                F.lit(".example")
            ),
            F.lit("/status/"),
            F.col("doc_id").cast("string"),
        )
        return discover_domains(
            d.select(url.alias("url")),
            known=("host0.example", "host1.example"),
            excluded_suffixes=(".spam",),
            max_kickoffs=12,
        )

    q["discover_domains"] = discover_domains_capped

    def reblog_unwrap(spark, sf):
        # I2 end-to-end: every 3rd document arrives as a boost wrapper
        # (every 9th double-wrapped) whose reblog embeds the original
        # status; unwrap must recover the EXACT original payload for
        # all depths, proven by hashing the normalized output
        from aspublic_spark.functions.json_hooks import (
            normalize_status_json,
            unwrap_reblogs,
        )

        d = docs(spark, sf).filter(F.col("doc_id") < 100)
        orig = F.struct(
            F.concat(F.lit("https://orig.example/"), F.col("doc_id").cast("string")).alias("url"),
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("content"),
            F.col("lang").alias("language"),
            F.lit("2024-03-01T00:00:00Z").alias("created_at"),
        )
        wrap = F.struct(
            F.concat(F.lit("https://boost.example/"), F.col("doc_id").cast("string")).alias("url"),
            F.lit("").alias("content"),
            F.lit("2024-03-02T00:00:00Z").alias("created_at"),
            orig.alias("reblog"),
        )
        value = (
            F.when(F.col("doc_id") % 9 == 0, F.to_json(F.struct(
                F.lit("https://boost2.example/x").alias("url"),
                F.lit("").alias("content"),
                wrap.alias("reblog"),
            )))
            .when(F.col("doc_id") % 3 == 0, F.to_json(wrap))
            .otherwise(F.to_json(orig))
        )
        return normalize_status_json(unwrap_reblogs(d.select(value.alias("value"))))

    q["reblog_unwrap"] = reblog_unwrap

    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["fts_single_term"] = _bm25_sql(["dup"], and_terms=["dup"])
    o["fts_and"] = _bm25_sql(["hash", "join"], and_terms=["hash", "join"])
    o["fts_and_not"] = _bm25_sql(
        ["hash", "join"], and_terms=["hash", "join"], not_terms=["sort"]
    )
    o["fts_or"] = _bm25_sql(["dup", "vector"], or_groups=[["dup", "vector"]])
    o["fts_phrase"] = _bm25_sql(
        ["hash", "join"], and_terms=["hash", "join"], phrase=["hash", "join"]
    )
    o["fts_not_group"] = _bm25_sql(
        ["table"], and_terms=["table"], not_groups=[["hash", "join"]]
    )
    o["fts_near"] = _bm25_sql(
        ["hash", "join"], and_terms=["hash", "join"],
        near=(["hash", "join"], 2),
    )
    o["fts_anchor"] = _bm25_sql(["key"], and_terms=["key"], anchor=["key"])
    o["fts_bool_tree"] = _bm25_sql(
        ["dup", "vector"],
        bool_where=(
            "s.doc_id in (select doc_id from tok where term = 'dup') "
            "or (s.doc_id in (select doc_id from tok where term = 'vector') "
            "and s.doc_id not in (select doc_id from tok where term = 'sort'))"
        ),
    )
    o["fts_col_filter"] = _bm25_col_filter_sql("query", "table")
    o["fts_col_conflict"] = _bm25_col_conflict_sql("table")
    o["fts_prefix"] = _bm25_prefix_sql("s", "dup")
    o["fts_col_exclude"] = _bm25_col_exclude_sql("query", "table")
    o["fts_or_phrase"] = _bm25_sql(
        ["hash", "join", "dup"], or_mixed=[(["dup"], [["hash", "join"]])]
    )
    o["fts_two_field"] = _bm25_two_field_sql(["table", "src3"], k=20)
    o["fts_filtered"] = _bm25_sql(["table"], and_terms=["table"], doc_filter="d.lang = 'en'")

    o["topk_recency"] = """
        select event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') as ts_str,
               round(value, 4) as value
        from events where event_type = 'signup'
        order by ts desc, event_id asc limit 50
    """
    o["retention_prune_count"] = """
        select event_type, count(*) as n from events
        where ts >= timestamp '2024-01-16 00:00:00'
        group by event_type
    """
    o["policy_filter"] = """
        select source, count(*) as n_docs from documents
        where lang in ('en', 'fr') and not regexp_matches(text, 'slow .* error|dup')
        group by source
    """
    o["dedup_exact"] = """
        with corpus as (
          select doc_id, text from documents
          union all
          select doc_id + 10000000 as doc_id, text
          from documents where doc_id < 100
        )
        select min(doc_id) as keep_id, count(*) as n_copies
        from corpus group by text having count(*) > 1
    """
    o["token_count_by_lang"] = """
        select lang, sum(len(string_split(text, ' ')))::bigint as total_tokens,
               count(*) as n_docs
        from documents group by lang
    """

    from aspublic_spark.operators.dedup import MERSENNE_P, minhash_params

    params = minhash_params(8, seed=42)
    mh_cols = ",\n           ".join(
        f"min(({a} * h + {b}) % {MERSENNE_P}) as h{i}" for i, (a, b) in enumerate(params)
    )
    o["minhash_signatures"] = f"""
        with words as (
          select doc_id, string_split(text, ' ') as w
          from documents where doc_id < 50
        ),
        sh as (
          select distinct doc_id, array_to_string(w[i:i+2], ' ') as shingle
          from words, lateral (
            select unnest(generate_series(1, greatest(len(w) - 2, 1))) as i
          )
        ),
        hashed as (
          select doc_id,
                 ('0x' || substr(md5(shingle), 1, 8))::bigint as h
          from sh
        )
        select doc_id, {mh_cols}
        from hashed group by doc_id
    """

    o["ngram_jaccard_pairs"] = """
        with d as (
          select doc_id, string_split(text, ' ') as w
          from documents where regexp_matches(text, '(^| )dup( |$)')
        ),
        sh as (
          select doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 1, 1)),
                   i -> array_to_string(w[i:i+1], ' ')
                 )) as shs
          from d
        )
        select a.doc_id as id1, b.doc_id as id2,
               round(len(list_intersect(a.shs, b.shs)) * 1.0
                     / len(list_distinct(list_concat(a.shs, b.shs))), 4) as jaccard
        from sh a join sh b on a.doc_id < b.doc_id
        where round(len(list_intersect(a.shs, b.shs)) * 1.0
                    / len(list_distinct(list_concat(a.shs, b.shs))), 4) >= 0.05
    """

    o["ann_cosine_topk"] = """
        with q as (
          select embedding as e from embeddings
          where vec_id = (select min(vec_id) from embeddings)
        )
        select vec_id,
               round(
                 (select sum(x.v * y.v) from
                    (select unnest(embedding)::double as v,
                            generate_subscripts(embedding, 1) as i) x
                    join
                    (select unnest((select e from q))::double as v,
                            generate_subscripts((select e from q), 1) as i) y
                    using (i))
                 / (sqrt((select sum((unnest.x)::double * (unnest.x)::double) from unnest(embedding) as unnest(x)))
                    * sqrt((select sum((unnest.x)::double * (unnest.x)::double) from unnest((select e from q)) as unnest(x)))),
                 5) as cosine
        from embeddings
        order by cosine desc, vec_id asc
        limit 25
    """

    def _hits(markers: list[str]) -> str:
        lst = ", ".join(f"'{m}'" for m in markers)
        return f"len(list_intersect(list_distinct(string_split(text, ' ')), [{lst}]))"

    from aspublic_spark.functions.textstats import LANG_MARKERS, STOPWORDS_EN

    langs = list(LANG_MARKERS)
    hit_cols = ", ".join(f"{_hits(LANG_MARKERS[lg])} as h_{lg}" for lg in langs)
    g = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    case = "case when " + g + " = 0 then 'und' " + " ".join(
        f"when h_{lg} = {g} then '{lg}'" for lg in langs
    ) + " end"
    o["lang_id_counts"] = f"""
        with scored as (select doc_id, {hit_cols} from documents)
        select {case} as pred_lang, count(*) as n
        from scored group by 1
    """

    stop_hits = _hits(STOPWORDS_EN)
    o["quality_by_lang"] = f"""
        with per_doc as (
          select lang,
                 round(
                   0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                 + 0.2 * (case when length(text) * 1.0 / len(string_split(text, ' ')) between 3.0 and 10.0
                          then 1.0 else 0.5 end)
                 + 0.2 * (1.0 - least(
                     len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1.0 / length(text) * 5.0, 1.0))
                 + 0.2 * least({stop_hits} * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0)
                 , 4) as q
          from documents
        )
        select lang, round(avg(q), 4) as avg_quality from per_doc group by lang
    """

    o["pipeline_clean_corpus"] = f"""
        with u as (
          select doc_id, text from documents
          union all
          select doc_id + 10000000 as doc_id, text from documents
          where doc_id < 100
        ), kept as (
          select doc_id, text from (
            select doc_id, text, row_number() over (
              partition by substr(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 16)
              order by doc_id) as rn
            from u)
          where rn = 1
        ), scored as (
          select {hit_cols},
                 round(
                   0.4 * least(len(string_split(text, ' ')) / 100.0, 1.0)
                 + 0.2 * (case when length(text) * 1.0 / len(string_split(text, ' ')) between 3.0 and 10.0
                          then 1.0 else 0.5 end)
                 + 0.2 * (1.0 - least(
                     len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1.0 / length(text) * 5.0, 1.0))
                 + 0.2 * least({stop_hits} * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0)
                 , 4) as q
          from kept
        ), final as (
          select {case} as pred_lang, q from scored
        )
        select '00_input' as stage, count(*) as n_docs from u
        union all
        select '01_exact_dedup', count(*) from kept
        union all
        select '02_lang_id', count(*) from final where pred_lang != 'und'
        union all
        select '03_quality', count(*) from final
        where pred_lang != 'und' and q >= 0.7
        union all
        select '04_lang_' || pred_lang, count(*) from final
        where pred_lang != 'und' and q >= 0.7
        group by pred_lang
    """

    o["fingerprints"] = """
        select doc_id,
               substr(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 16) as fp
        from documents where doc_id < 100
    """

    o["window_counts"] = """
        select strftime(time_bucket(interval '6 hours', ts),
                        '%Y-%m-%d %H:%M:%S') as w_start,
               event_type, count(*) as n, round(sum(value), 4) as total
        from events group by 1, 2
    """

    o["json_normalize"] = """
        select 'inst.example/' || doc_id as url,
               text,
               '' as subject,
               1709251200::bigint as created,
               lang as language,
               false as bot,
               false as reply,
               false as attachments
        from documents where doc_id < 100
    """

    o["knn_join_topk"] = """
        with q as (
          select vec_id as q_id, embedding::DOUBLE[] as qe
          from embeddings where vec_id < 3
        ),
        e as (select vec_id, embedding::DOUBLE[] as e from embeddings),
        s as (
          select q.q_id, e.vec_id,
                 round(list_dot_product(e.e, q.qe)
                       / (sqrt(list_dot_product(e.e, e.e))
                          * sqrt(list_dot_product(q.qe, q.qe))), 5) as cosine
          from q, e
        )
        select q_id, vec_id, cosine, rank from (
          select *, row_number() over (
            partition by q_id order by cosine desc, vec_id asc) as rank
          from s
        ) where rank <= 5
    """

    # LSH ANN: the hyperplanes are deterministic (seeded RandomState),
    # so the oracle embeds them as literals and reproduces the exact
    # bucket/multiprobe candidate set (hamming(bucket, qbucket) <= 1 per
    # table) and the exact rescoring — no longer a rows-only entry.
    from aspublic_spark.operators.similarity import _planes

    def _plane_lit(p):
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    n_tables, n_planes, seed, dim = 8, 8, 42, 64
    be_cols, bq_cols, conds = [], [], []
    for t in range(n_tables):
        planes = _planes(dim, n_planes, seed + 1000 * t)
        be = " + ".join(
            f"(case when list_dot_product(e, {_plane_lit(p)}) >= 0 then {1 << i} else 0 end)"
            for i, p in enumerate(planes)
        )
        bq = " + ".join(
            f"(case when list_dot_product(qe, {_plane_lit(p)}) >= 0 then {1 << i} else 0 end)"
            for i, p in enumerate(planes)
        )
        be_cols.append(f"({be}) as be{t}")
        bq_cols.append(f"({bq}) as bq{t}")
        conds.append(f"bit_count(xor(be{t}::bigint, bq{t}::bigint)) <= 1")
    o["lsh_ann_topk"] = f"""
        with emb as (
          select vec_id, embedding::DOUBLE[] as e from embeddings
        ),
        q as (
          select e as qe from emb
          where vec_id = (select min(vec_id) from embeddings)
        ),
        be as (select vec_id, e, {", ".join(be_cols)} from emb),
        bq as (select qe, {", ".join(bq_cols)} from q),
        cand as (
          select be.vec_id, be.e from be, bq where {" or ".join(conds)}
        )
        select vec_id,
               round(list_dot_product(c.e, (select qe from q))
                     / (sqrt(list_dot_product(c.e, c.e))
                        * sqrt((select list_dot_product(qe, qe) from q))),
                     5) as cosine
        from cand c
        order by cosine desc, vec_id asc
        limit 10
    """
    # the indexed variant serves the same query from persisted bucket
    # columns; the result contract is identical, so it shares the oracle
    o["lsh_ann_topk_indexed"] = o["lsh_ann_topk"]

    # embedding near-dup: literal seed-7 hyperplanes reproduce the exact
    # bucket equality candidates; cosine verification >= 0.95 keeps only
    # the 20 planted duplicate pairs (random vectors never come close)
    nd_planes = _planes(64, 10, 7)
    nd_bucket_a = " + ".join(
        f"(case when list_dot_product(e, {_plane_lit(p)}) >= 0 then {1 << i} else 0 end)"
        for i, p in enumerate(nd_planes)
    )
    o["embedding_near_dup"] = f"""
        with emb as (
          select vec_id, embedding::DOUBLE[] as e from embeddings
        ),
        allv as (
          select vec_id, e from emb
          union all
          select vec_id + 10000000 as vec_id, e from emb where vec_id < 20
        ),
        b as (select vec_id, e, ({nd_bucket_a}) as bucket from allv)
        select x.vec_id as id1, y.vec_id as id2,
               round(list_dot_product(x.e, y.e)
                     / (sqrt(list_dot_product(x.e, x.e))
                        * sqrt(list_dot_product(y.e, y.e))), 5) as cosine
        from b x join b y on x.bucket = y.bucket and x.vec_id < y.vec_id
        where round(list_dot_product(x.e, y.e)
                    / (sqrt(list_dot_product(x.e, x.e))
                       * sqrt(list_dot_product(y.e, y.e))), 5) >= 0.95
    """

    o["discover_domains"] = """
        with urls as (
          select (case when doc_id % 7 = 0 then 'https://' else '' end)
                 || 'host' || (doc_id % 40)::varchar
                 || (case when doc_id % 11 = 0 then '.spam' else '.example' end)
                 || '/status/' || doc_id::varchar as url
          from documents
        ),
        doms as (
          select distinct
            split_part(regexp_replace(url, '^[a-z][a-z0-9+.-]*://', ''), '/', 1)
              as domain
          from urls
        )
        select domain from doms
        where domain != ''
          and domain not in ('host0.example', 'host1.example')
          and not ends_with(domain, '.spam')
        order by domain limit 12
    """

    # I2: whatever the wrapper depth, the normalized output is exactly
    # the original status — same shape as json_normalize but with the
    # unwrap in front on the Spark side
    o["reblog_unwrap"] = """
        select 'orig.example/' || doc_id as url,
               text,
               '' as subject,
               1709251200::bigint as created,
               lang as language,
               false as bot,
               false as reply,
               false as attachments
        from documents where doc_id < 100
    """

    # portable 32-bit simhash: md5-derived token hash on both sides
    o["simhash_fingerprints"] = """
        with tok as (
          select doc_id,
                 unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) as t
          from documents where doc_id < 200
        ),
        h as (
          select doc_id, ('0x' || substr(md5(t), 1, 8))::bigint as hv from tok
        ),
        bits as (
          select doc_id, g.i,
                 sum(case when (hv >> g.i) & 1 = 1 then 1 else -1 end) as s
          from h, lateral (select unnest(generate_series(0, 31)) as i) g
          group by doc_id, g.i
        )
        select doc_id,
               sum(case when s > 0 then (1::bigint << i) else 0 end)::bigint as simhash
        from bits group by doc_id
    """

    # MinHash+LSH duplicate pairs: same signatures as minhash_signatures
    # (md5-derived hash, same permutations), banded r=4 x b=8; candidate
    # pairs share at least one identical band (compared on the raw band
    # VALUES, which equals Spark's band-hash equality absent xxhash64
    # collisions); verified by exact 2-shingle Jaccard >= 0.35.
    params32 = minhash_params(32, seed=42)
    sig_cols = ",\n             ".join(
        f"min(({a} * h + {b}) % {MERSENNE_P}) as h{i}"
        for i, (a, b) in enumerate(params32)
    )
    band_rows = " union all ".join(
        "select doc_id, {b} as band, [{cols}] as bv from sig".format(
            b=b, cols=", ".join(f"h{b * 4 + j}" for j in range(4))
        )
        for b in range(8)
    )
    lsh_pairs_sql = f"""
        with words as (
          select doc_id, string_split(text, ' ') as w from documents
        ),
        sh as (
          select distinct doc_id, array_to_string(w[i:i+1], ' ') as shingle
          from words, lateral (
            select unnest(generate_series(1, greatest(len(w) - 1, 1))) as i
          )
        ),
        hashed as (
          select doc_id, ('0x' || substr(md5(shingle), 1, 8))::bigint as h
          from sh
        ),
        sig as (
          select doc_id, {sig_cols}
          from hashed group by doc_id
        ),
        banded as ({band_rows}),
        cand as (
          select distinct a.doc_id as id1, b.doc_id as id2
          from banded a join banded b
            on a.band = b.band and a.bv = b.bv and a.doc_id < b.doc_id
        ),
        shl as (
          select doc_id,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 1, 1)),
                   i -> array_to_string(w[i:i+1], ' ')
                 )) as shs
          from words
        ),
        verified as (
          select id1, id2,
                 round(len(list_intersect(x.shs, y.shs)) * 1.0
                       / len(list_distinct(list_concat(x.shs, y.shs))), 4) as jaccard
          from cand
          join shl x on x.doc_id = id1
          join shl y on y.doc_id = id2
        )
        select id1, id2, jaccard from verified where jaccard >= 0.35
    """
    o["minhash_lsh_dup_pairs"] = lsh_pairs_sql

    # connected components over the (bit-exact) verified pairs: DuckDB
    # reproduces the min-label closure with a recursive CTE, so the
    # iterative Spark operator is oracle-checked end to end
    o["dedup_clusters"] = f"""
        with recursive pairs as ({lsh_pairs_sql}),
        edges as (
          select id1 as s, id2 as d from pairs
          union
          select id2 as s, id1 as d from pairs
        ),
        reach(s, d) as (
          select s, d from edges
          union
          select r.s, e.d from reach r join edges e on r.d = e.s
        )
        select s as id, least(s, min(d)) as rep
        from reach group by s
    """
    return o
