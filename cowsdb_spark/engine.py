"""The engine shell: per-credential sessions + query execution.

Reference shape (SURVEY §3.1): credentials select an isolated
catalog (main.py:140-173 — chdb Session per (user,password) hash);
``execute_query_with_session`` runs SQL and returns formatted bytes
(main.py:175-217). Here: ONE SparkSession, per-user Spark databases
(``u<hash>__<db>``) — namespace isolation without per-user JVM cost
(SURVEY §7 hard-parts note) — and the dialect front-end + format
serializers around ``spark.sql``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import os
import struct as _struct
import threading
import time
from dataclasses import dataclass, field
from types import SimpleNamespace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .dialect import translate
from .dialect.ddl import (
    AlterColumn,
    AttachDetach,
    AlterMutation,
    CreateDatabase,
    CreateTable,
    CreateView,
    DropObject,
    NoopDDL,
    OptimizeTable,
    RenameTables,
    TruncateTable,
    parse_ddl,
)
from .dialect.insert import parse_insert, split_ref, values_query
from .dialect.tokenizer import (
    arg_texts,
    find_close,
    render,
    significant,
    split_args,
    split_text,
    tokenize,
)
from .formats import FORMATS, QueryResult, serialize
from .functions.ch_hashes import register_all as _register_hashes
from .functions.codecs import register_all as _register_codecs
from .functions.misc_udfs import register_all as _register_misc
from .localdf import local_df
from .session import get_spark
from .sources.url import resolve_table_functions
from .system_tables import materialize as _materialize_system


# Per-query settings the engine actually acts on.  Anything else in a
# statement SETTINGS clause or the HTTP URL params is accepted (CH
# compatibility: clients send tuning knobs freely) but reported on the
# warning channel so the caller can tell it had no effect.  The
# HTTP-layer settings (query_id, enable_http_compression,
# send_progress_in_http_headers, http_headers_progress_interval_ms) are
# consumed by the server before the engine sees them.
ACTED_SETTINGS = frozenset({"default_format", "max_result_rows", "format_schema"})


def _operator(path: str):
    """``module.fn`` under ``operators/`` as ``call(df, **kwargs)``,
    imported on first call (the operator modules load models and
    register UDFs)."""
    mod, fn = path.rsplit(".", 1)

    def call(df: DataFrame, **kwargs) -> DataFrame:
        return getattr(importlib.import_module(f".operators.{mod}", __package__), fn)(df, **kwargs)

    return call


def _bm25(docs: DataFrame, query: str, **kwargs) -> DataFrame:
    from .operators.retrieval import bm25_topk

    q = local_df(docs.sparkSession, [(0, query)], "query_id long, qtext string")
    return bm25_topk(docs, q, **kwargs).drop("query_id")


# SQL-callable pipeline table functions (SURVEY §7 Phase G): name →
# (usage, literal parameters, operator). A parameter is (keyword,
# kind, required); "cols" is a string literal naming comma-separated
# columns. An omitted optional literal leaves the operator's own
# default. Expanded by Engine._expand_pipeline_fns into operator
# DataFrames registered as per-statement temp views.
_GROUPS = ("group_cols", "cols", True)
_VALUE = ("value_col", "str", True)
_SCRUB = (("n", "int", False), ("min_docs", "int", False))
_PIPELINE_FNS = {
    "exactdedup": ("exactDedup(table)", (), _operator("dedup.exact_dedup")),
    "minhashpairs": (
        "minhashPairs(table[, min_jaccard])",
        (("min_jaccard", "float", False),),
        _operator("dedup.minhash_lsh_pairs"),
    ),
    "qualityscore": ("qualityScore(table)", (), _operator("text.quality_score")),
    "langid": ("langId(table)", (), _operator("text.lang_id")),
    "scrubdupspans": (
        "scrubDupSpans(table[, n[, min_docs]])", _SCRUB, _operator("text.scrub_dup_spans"),
    ),
    # the rewritten CORPUS: original columns, text replaced by the
    # scrubbed version; composes with every other fn: bm25(rewriteScrub(t))
    "rewritescrub": (
        "rewriteScrub(table[, n[, min_docs]])", _SCRUB, _operator("text.rewrite_scrubbed"),
    ),
    "hllpresketch": (
        "hllPresketch(table, 'group_col[,group_col]', 'value_col')",
        (_GROUPS, _VALUE),
        _operator("sketches.hll_presketch"),
    ),
    "hllrollup": (
        "hllRollup(sketch_table, 'group_col[,group_col]' | '')",
        (_GROUPS,),
        _operator("sketches.hll_rollup"),
    ),
    "histpresketch": (
        "histPresketch(table, 'group_cols', 'value_col', lo, hi[, bins])",
        (_GROUPS, _VALUE, ("lo", "float", True), ("hi", "float", True), ("bins", "int", False)),
        _operator("sketches.hist_presketch"),
    ),
    "histrollup": (
        "histRollup(sketch_table, 'group_col[,group_col]' | '')",
        (_GROUPS,),
        _operator("sketches.hist_rollup"),
    ),
    "cmspresketch": (
        "cmsPresketch(table, 'group_cols', 'value_col'[, width[, depth]])",
        (_GROUPS, _VALUE, ("width", "int", False), ("depth", "int", False)),
        _operator("sketches.cms_presketch"),
    ),
    "cmsrollup": (
        "cmsRollup(sketch_table, 'group_col[,group_col]' | '')",
        (_GROUPS,),
        _operator("sketches.cms_rollup"),
    ),
    "hashedembedding": (
        "hashedEmbedding(table[, dim])",
        (("dim", "int", False),),
        _operator("embeddings.hashed_embedding"),
    ),
    "bm25": ("bm25(table, 'query text'[, k])", (("query", "str", True), ("k", "int", False)), _bm25),
}
# literal kind → (literal type, conversion)
_LITERAL_KINDS = {
    "str": (str, str),
    "cols": (str, lambda v: [c.strip() for c in v.split(",") if c.strip()]),
    "int": (float, int),
    "float": (float, float),
}


def _pipeline_literal(toks: list) -> "str | float | None":
    """A pipeline-fn argument's value: a string literal, or a number
    with an optional sign; None when the argument is not a literal.
    The dialect front-end suffixes numeric literals (0.4D, 3L) before
    the expansion runs, so the suffix is folded back."""
    sign = ""
    if len(toks) > 1 and toks[0].kind == "op" and toks[0].text in ("-", "+"):
        sign, toks = toks[0].text, toks[1:]
    if len(toks) == 2 and toks[0].kind == "number" and toks[1].upper in ("D", "L"):
        toks = toks[:1]
    if len(toks) != 1:
        return None
    t = toks[0]
    if t.kind == "number":
        return float(sign + t.text)
    if t.kind == "string" and not sign:
        return t.text[1:-1].replace("\\'", "'").replace("''", "'")
    return None


import re as _pipeline_re

_PIPELINE_FN_RE = _pipeline_re.compile(
    r"(?i)\b(" + "|".join(_PIPELINE_FNS) + r")\s*\("
)


class EngineError(Exception):
    """Query failure; message is the CH-style error text (the
    reference surfaces engine stderr as HTTP 400, main.py:823-847)."""

    def __init__(self, message: str, code: int = 62):
        super().__init__(f"Code: {code}. {message}")
        self.code = code


@dataclass
class DictionarySpec:
    """CREATE DICTIONARY registration: a keyed view over a source
    table.  dictGet* rewrites to a correlated scalar subquery over the
    source, which Catalyst turns into a (broadcastable) left join —
    exactly the dimension-lookup plan a dictionary is for."""

    name: str
    source: str  # table reference as written (db.table or table)
    key: str
    # attr name -> (CH type string, DEFAULT literal or None)
    attrs: dict = field(default_factory=dict)


@dataclass
class UserSession:
    user: str
    password: str
    current_db: str = "default"
    created_at: float = field(default_factory=time.time)
    # CH HTTP sessions: `session_id` scopes SET/USE state per client
    # session (same credential namespace/catalog); sessions with an
    # id expire `session_timeout` seconds after their last use
    session_id: str = ""
    last_used: float = field(default_factory=time.time)
    session_timeout: float = 3600.0
    # session-level SET k = v (CH sessions persist settings; we honor
    # default_format / max_result_rows, accept the rest silently)
    settings: dict = field(default_factory=dict)
    # CREATE DICTIONARY registry (name -> DictionarySpec)
    dictionaries: dict = field(default_factory=dict)
    # CREATE TEMPORARY TABLE names living in this session's hidden db
    temp_tables: set = field(default_factory=set)

    @property
    def ns(self) -> str:
        """Namespace prefix isolating this credential pair, same
        keying idea as the reference's path hash (main.py:146-149)."""
        h = hashlib.sha256(f"{self.user}:{self.password}".encode()).hexdigest()[:10]
        return f"u{h}"

    def spark_db(self, db: Optional[str] = None) -> str:
        return f"{self.ns}__{db or self.current_db}"

    @property
    def temp_db(self) -> str:
        """Hidden database for TEMPORARY tables: the `tmp` prefix
        keeps it outside the `u<hash>__` pattern every catalog listing
        filters on, so other sessions (and SHOW DATABASES) never see
        it."""
        sid = hashlib.sha256(self.session_id.encode()).hexdigest()[:8]
        return f"tmp{self.ns}_s{sid}"

    def spark_table(self, db: Optional[str], name: str, temporary: bool = False) -> str:
        """The one map from a CH table reference (``db`` or None, and
        ``name``) to its Spark table: ``db.t`` is in ``spark_db(db)``;
        a bare name is this session's TEMPORARY table if it has one by
        that name (or ``temporary`` says it is being created), else it
        is in the current database. The spelling is canonical,
        lower-cased as Spark's catalog stores and lists names, so two
        spellings of one table give one string."""
        if not db and (temporary or name.lower() in self.temp_tables):
            return f"`{self.temp_db}`.`{name}`".lower()
        return f"`{self.spark_db(db)}`.`{name}`".lower()


def _split_table(tbl: str) -> tuple[str, str]:
    """(Spark database, table name) of a ``spark_table`` spelling."""
    db, _, name = tbl[1:-1].partition("`.`")
    return db, name


def bind_query_params(sql: str, params: dict[str, str]) -> str:
    """Server-side binding of ``{name:Type}`` placeholders (the CH
    parameterized-query protocol: HTTP ``param_<name>=…`` URL params,
    native-protocol parameter entries).

    Token-aware: placeholders inside string literals are data, not
    parameters (CH parses placeholders as AST nodes).  Values bind as
    ``CAST('v' AS type)`` — never raw splicing, so a value can't
    inject SQL — with ``from_json`` for composite types."""
    from .dialect.types import ch_type_to_spark

    toks = tokenize(sql)
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "op" and t.text == "{":
            # collect {name : type-tokens}
            j = i + 1
            inner: list = []
            while j < len(toks) and not (toks[j].kind == "op" and "}" in toks[j].text):
                inner.append(toks[j])
                j += 1
            name_toks = [x for x in inner if x.kind not in ("ws", "comment")]
            if (
                j < len(toks)
                and name_toks
                and name_toks[0].kind == "ident"
                and len(name_toks) >= 3
                and name_toks[1].text == ":"
            ):
                name = name_toks[0].text
                chtype = "".join(x.text for x in name_toks[2:]).strip()
                if name not in params:
                    raise EngineError(f"Substitution `{name}` is not set", 456)
                try:
                    s = ch_type_to_spark(chtype).simpleString()
                except ValueError as e:
                    raise EngineError(str(e), 456) from e
                val = params[name]
                esc = val.replace("\\", "\\\\").replace("'", "\\'")
                if s.startswith(("array", "map", "struct")):
                    out.append(f"from_json('{esc}', '{s}')")
                else:
                    out.append(f"CAST('{esc}' AS {s})")
                i = j + 1
                continue
        out.append(t.text)
        i += 1
    return "".join(out)


class Engine:
    """ClickHouse-dialect front door over Spark SQL."""

    def __init__(
        self,
        spark: Optional[SparkSession] = None,
        user_files_dir: Optional[str] = None,
        format_schema_dir: Optional[str] = None,
    ):
        self.spark = spark or get_spark("moospark-engine")
        # INTO OUTFILE confinement root (CH user_files_path analog);
        # unset → the feature is disabled (see _confine_outfile)
        self.user_files_dir = user_files_dir or os.environ.get(
            "MOOSPARK_USER_FILES_DIR"
        )
        # Schema-file formats (Protobuf): CH's format_schema_path model
        # — client-supplied format_schema names resolve inside this
        # directory only (realpath-confined in formats/protobuf.py);
        # unset → schema formats are disabled with a clear error
        self.format_schema_dir = format_schema_dir or os.environ.get(
            "MOOSPARK_FORMAT_SCHEMA_PATH"
        )
        # CH-style permissive INSERT coercion: string literals into
        # Date/DateTime/numeric columns must cast (ANSI store
        # assignment would reject `INSERT … VALUES (1, '2024-01-05')`).
        self.spark.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
        # CH-permissive expressions (float x/0 → non-error); Spark 4
        # defaults ANSI on, which would throw instead
        self.spark.conf.set("spark.sql.ansi.enabled", "false")
        _register_hashes(self.spark)
        _register_codecs(self.spark)
        _register_misc(self.spark)
        self._sessions: dict[tuple[str, str], UserSession] = {}
        self._order_by_cache: dict[str, dict] = {}  # tbl -> moospark.* props
        # system.query_log backing store: per-credential-namespace ring
        # buffer (each user sees only their own history, like the
        # namespace isolation everywhere else)
        from collections import deque as _deque

        self._query_log: dict[str, object] = {}
        self._query_log_maxlen = 1000
        # per-Spark-db table-name sets for lock-free qualification of
        # unqualified refs on the read path; cleared on any DDL
        self._tables_cache: dict[str, set] = {}
        # plan cache for repeated SELECT statements (a real server
        # feature: dashboards and benches re-issue identical text;
        # Spark analysis of a 100-column view costs ~0.1 s per
        # statement — measured 0.31s -> 0.05s per repeated ClickBench
        # aggregate at 10M rows). Each entry is (planned Dataset,
        # static width or None, temp-view guards, HOT-tier state): a
        # hit either re-runs that same Dataset (HOT tier) or builds a
        # fresh one from its optimized plan (WARM tier); see
        # _run_select. Invalidated wholesale on any DDL/insert/mutation
        # through this engine (the generation counter) and skipped for
        # non-deterministic queries. Bounded LRU; no result data is
        # pinned. Replacing a TEMP VIEW directly on the SparkSession is
        # caught by the semanticHash guards.
        from collections import OrderedDict as _OD

        self._plan_cache: "_OD[str, tuple[DataFrame, Optional[int], dict, dict]]" = _OD()
        self._plan_cache_max = 128
        self._catalog_gen = 0
        self._dbs_ensured: set = set()
        # materialized-view registry: ns → {source_qual → [(storage_qual,
        # qualified select body)]}; lazily rebuilt from moospark.mv_*
        # TBLPROPERTIES so MVs survive engine restarts
        self._mv_registry: dict[str, dict[str, list[tuple[str, str]]]] = {}
        self._mv_scanned: set[str] = set()
        # One lock around catalog-mutating execution, mirroring the
        # reference's session_lock (main.py:34,162). Read-only
        # queries run concurrently; current-database switching is
        # done per-call with fully-qualified names instead of a
        # global USE where possible.
        self._lock = threading.RLock()
        self._opfn_counter = 0  # pipeline-table-function view names
        # Serializes the set-conf -> force-physical-plan -> restore-conf
        # window of _plan_static: two concurrent readers could otherwise
        # interleave so that one reads the other's temporary
        # adaptive=false as its "previous" value and restores it
        # permanently (observed as an order-dependent test flake).
        # Planning is ms-scale; query EXECUTION happens outside the
        # window and stays concurrent.
        self._conf_lock = threading.Lock()

    # ------------------------------------------------------------ sessions

    def get_session(
        self,
        user: str = "default",
        password: str = "",
        session_id: str = "",
        session_timeout: Optional[float] = None,
    ) -> UserSession:
        key = (user, password, session_id)
        now = time.time()
        with self._lock:
            # evict expired id-keyed sessions (CH session_timeout)
            for k in [
                k
                for k, s in self._sessions.items()
                if s.session_id and now - s.last_used > s.session_timeout
            ]:
                expired = self._sessions.pop(k)
                if expired.temp_tables:
                    try:
                        self.spark.sql(
                            f"DROP DATABASE IF EXISTS `{expired.temp_db}` CASCADE"
                        )
                    except Exception:
                        pass
            if key not in self._sessions:
                sess = UserSession(
                    user=user, password=password, session_id=session_id
                )
                self._sessions[key] = sess
                self._ensure_db(sess.spark_db("default"))
            sess = self._sessions[key]
            sess.last_used = now
            if session_timeout is not None:
                sess.session_timeout = session_timeout
            return sess

    def _confine_outfile(self, path: str) -> str:
        """Resolve an INTO OUTFILE path inside the engine's user-files
        directory (CH's user_files_path model). Unconfigured → the
        feature is disabled (CH code 344 SUPPORT_IS_DISABLED — real
        ClickHouse handles INTO OUTFILE client-side and never writes
        server-side). Relative paths resolve under the directory;
        absolute paths must realpath inside it (symlink-escape safe:
        the existing part of the path is fully resolved before the
        containment check; CH code 481 PATH_ACCESS_DENIED)."""
        import os as _os

        root = self.user_files_dir
        if not root:
            raise EngineError(
                "INTO OUTFILE is disabled on this server: no user-files "
                "directory is configured (set MOOSPARK_USER_FILES_DIR or "
                "pass user_files_dir=)", code=344,
            )
        root_real = _os.path.realpath(root)
        cand = path if _os.path.isabs(path) else _os.path.join(root_real, path)
        base = _os.path.basename(cand)
        if not base:
            raise EngineError(f"Invalid OUTFILE path '{path}'", code=481)
        parent_real = _os.path.realpath(_os.path.dirname(cand))
        target = _os.path.join(parent_real, base)
        try:
            inside = _os.path.commonpath([root_real, target]) == root_real
        except ValueError:  # different drives (win) — definitely outside
            inside = False
        if not inside:
            raise EngineError(
                f"Path '{path}' is outside the user-files directory",
                code=481,
            )
        return target

    def _log_query(
        self,
        user: str,
        password: str,
        query: str,
        elapsed: float,
        result_rows: int,
        qtype: str,
        exception: str,
    ) -> None:
        import datetime as _dt
        from collections import deque as _deque

        ns = self.get_session(user, password).ns
        with self._lock:
            buf = self._query_log.get(ns)
            if buf is None:
                buf = _deque(maxlen=self._query_log_maxlen)
                self._query_log[ns] = buf
            # CH log_queries_cut_to_length (default 100 KB): bulk
            # INSERT ... FORMAT payloads must not pin megabytes of
            # text per ring-buffer slot (ADVICE r4)
            buf.append(
                (
                    qtype,
                    _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
                    round(elapsed * 1000.0, 3),
                    query[:100_000],
                    result_rows,
                    user,
                    exception,
                )
            )

    def query_log_rows(self, ns: str) -> list:
        with self._lock:
            return list(self._query_log.get(ns, []))

    def has_session(
        self, user: str = "default", password: str = "", session_id: str = ""
    ) -> bool:
        """True if an unexpired session exists (CH ``session_check=1``)."""
        with self._lock:
            s = self._sessions.get((user, password, session_id))
        return s is not None and (
            not s.session_id or time.time() - s.last_used <= s.session_timeout
        )

    def _ensure_db(self, spark_db: str) -> None:
        if spark_db in self._dbs_ensured:
            return
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{spark_db}`")
        self._dbs_ensured.add(spark_db)

    # ------------------------------------------------------------ execute

    def execute(
        self,
        query: str,
        fmt: Optional[str] = None,
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
        params: Optional[dict] = None,
        session_id: str = "",
    ) -> bytes:
        """Run a (possibly multi-statement) CH-dialect query; returns
        the LAST statement's result serialized per the CH precedence
        FORMAT clause > caller ``fmt`` > session ``SET default_format``
        > TSV (reference semantics: USE prefixing + single result,
        main.py:859-860)."""
        return self.execute_with_format(
            query, fmt, user, password, database, params=params,
            session_id=session_id
        )[0]

    def execute_with_format(
        self,
        query: str,
        fmt: Optional[str] = None,
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
        extra_settings: Optional[dict] = None,
        params: Optional[dict] = None,
        session_id: str = "",
    ) -> tuple[bytes, str, dict]:
        """Like :meth:`execute`, also returning the format actually
        used (FORMAT clause / caller / session SET / TSV) so servers
        can emit the right Content-Type, plus a stats dict for the
        X-ClickHouse-Summary response header. ``extra_settings`` are
        query-level settings (CH URL params): above session SET,
        below an explicit statement SETTINGS clause."""
        res, use_fmt, merged, stats = self.execute_collect(
            query, fmt, user, password, database,
            extra_settings=extra_settings, params=params, session_id=session_id,
        )
        if res is None:
            return b"", use_fmt, stats
        try:
            body = serialize(
                res, use_fmt,
                settings={**merged,
                          "__format_schema_path__": self.format_schema_dir},
            )
        except ValueError as e:
            # schema-file format misuse (missing/invalid format_schema,
            # path escape, unknown message): CH BAD_ARGUMENTS
            raise EngineError(str(e), 36) from e
        outfile = merged.get("__outfile__")
        if outfile:
            # INTO OUTFILE: result bytes go to the file; the wire body
            # is empty unless AND STDOUT was given (CH semantics —
            # default mode ERRORS on an existing file). The path is
            # confined to the configured user-files directory — an
            # unconfined write would hand any HTTP client an
            # arbitrary-file-write primitive with server privileges
            # (ADVICE r4; real ClickHouse treats INTO OUTFILE as
            # client-side only and rejects it on the server).
            import os as _os

            path, mode, and_stdout = outfile
            target = self._confine_outfile(path)
            if mode == "error" and _os.path.exists(target):
                raise EngineError(
                    f"File '{path}' already exists "
                    "(use TRUNCATE or APPEND to overwrite)", code=76
                )
            with open(target, "ab" if mode == "append" else "wb") as f:
                f.write(body)
            if not and_stdout:
                body = b""
        stats["result_bytes"] = len(body)
        return body, use_fmt, stats

    def execute_collect(
        self,
        query: str,
        fmt: Optional[str] = None,
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
        extra_settings: Optional[dict] = None,
        params: Optional[dict] = None,
        session_id: str = "",
    ) -> tuple[Optional[QueryResult], str, dict, dict]:
        """Run a query, collect its result once and write its one
        ``system.query_log`` row; both wires answer from here.

        Returns ``(result, format, settings, stats)``. ``result`` is
        None for statements that return no rows; otherwise ``format``
        (FORMAT clause > ``fmt`` > session SET > TSV) must be a known
        one, checked before the collect. ``max_result_rows`` becomes a
        Spark LIMIT before the collect. ``settings`` merges
        session SET < ``extra_settings`` < statement SETTINGS, plus the
        statement's ``__outfile__`` target."""
        t_start = time.time()
        try:
            df, out_fmt, settings, _ = self.execute_to_df(
                query, user, password, database, params=params, session_id=session_id
            )
            eng_warnings = settings.pop("__engine_warnings__", [])
            outfile = settings.pop("__outfile__", None)
            sess = self.get_session(user, password, session_id)
            merged = {**sess.settings, **(extra_settings or {}), **settings}
            use_fmt = out_fmt or fmt or merged.get("default_format") or "TSV"
            res = None
            if df is not None:
                if use_fmt.lower() not in FORMATS:
                    # CH code 73: UNKNOWN_FORMAT, before any Spark work
                    raise EngineError(f"Unknown format {use_fmt}", 73)
                try:
                    max_rows = int(merged.get("max_result_rows", 0))
                except ValueError:
                    max_rows = 0
                if getattr(df, "_moospark_with_totals", False):
                    res = self._collect_with_totals(df, max_rows)
                else:
                    if max_rows > 0:  # CH: 0 means no limit
                        df = df.limit(max_rows)
                    res = QueryResult.from_dataframe(df)
        except Exception as e:
            self._log_query(user, password, query, time.time() - t_start, 0,
                            "ExceptionWhileProcessing", _clean_spark_error(e))
            if isinstance(e, EngineError):
                raise
            # execution-time Spark failures (collect) get a CH code too,
            # so both wires answer with an error instead of dropping
            raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e
        elapsed = time.time() - t_start
        n_rows = len(res.rows) if res is not None else 0
        self._log_query(user, password, query, elapsed, n_rows, "QueryFinish", "")
        if res is not None:
            res.elapsed = elapsed
        stats = {"result_rows": n_rows, "elapsed_ns": int(elapsed * 1e9)}
        # Warning channel (reference main.py:863-868: a query can succeed
        # WITH non-fatal stderr text and still return 200).  Our analog:
        # per-query settings the engine accepted but does not act on are
        # reported as warnings in the stats dict; servers surface them
        # without failing the query.  Session-level SET values don't
        # re-warn on every subsequent statement.
        warnings = eng_warnings + [
            f"Setting '{k}' was accepted but is ignored by this engine"
            for k in {**(extra_settings or {}), **settings}
            if k not in ACTED_SETTINGS
        ]
        if warnings:
            stats["warnings"] = warnings
        if outfile:
            merged["__outfile__"] = outfile
        return res, use_fmt, merged, stats

    def execute_to_df(
        self,
        query: str,
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
        params: Optional[dict] = None,
        session_id: str = "",
    ) -> tuple[Optional[DataFrame], Optional[str], dict, float]:
        if params or "{" in query:
            # also runs with no bindings so an unbound {name:Type}
            # reports "Substitution not set" (CH code 456), not a
            # Spark parse error; queries without braces skip the pass
            query = bind_query_params(query, params or {})
        sess = self.get_session(user, password, session_id)
        if database:
            sess.current_db = database
        t0 = time.time()
        result_df: Optional[DataFrame] = None
        out_fmt: Optional[str] = None
        settings: dict = {}
        data_insert = _match_insert_data(query)
        if data_insert is not None:
            ref, col_list, fmt_name, payload, ins_settings = data_insert
            self._insert_formatted(
                sess, ref, col_list, fmt_name, payload, ins_settings
            )
            return None, None, {}, time.time() - t0
        try:
            stmts = translate(query)
        except Exception as e:  # tokenizer never raises today; belt+braces
            raise EngineError(f"Syntax error: {e}") from e
        if not stmts:
            return None, None, {}, 0.0
        for st in stmts:
            if st.kind == "use":
                sess.current_db = st.database or "default"
                self._ensure_db(sess.spark_db())
                result_df = None
            elif st.kind == "set":
                sess.settings.update(_parse_set(st.original))
                continue
            elif st.kind == "ddl":
                self._run_ddl(sess, st.original)
                result_df = None
            elif st.kind == "insert":
                self._run_insert(sess, st.spark_sql)
                result_df = None
            elif st.kind == "exists":
                result_df = self._run_exists(sess, st.spark_sql)
            elif st.kind == "check":
                result_df = self._run_check(sess, st.spark_sql)
            elif st.kind == "kill":
                # no async query registry: nothing to kill; CH shape
                result_df = self.spark.createDataFrame(
                    [],
                    "kill_status string, query_id string, user string, query string",
                )
            elif st.kind == "system":
                settings.setdefault("__engine_warnings__", []).append(
                    "SYSTEM statement accepted but is a no-op in this "
                    f"engine: {st.original.strip()}"
                )
                result_df = None
            else:
                out_fmt = st.format or out_fmt
                settings.update(st.settings)
                if st.outfile:
                    settings["__outfile__"] = (
                        st.outfile, st.outfile_mode, st.outfile_and_stdout
                    )
                result_df = self._run_show(sess, st.spark_sql)
                if result_df is None:
                    result_df = self._run_select(sess, st.spark_sql)
                if st.explain_graph:
                    from .plans.inspect import plan_digraph

                    dot = plan_digraph(result_df)
                    result_df = local_df(
                        self.spark, [(dot,)], "explain string"
                    )
                if st.with_fill:
                    result_df = self._apply_with_fill(result_df, st.with_fill)
                if st.with_totals:
                    # carried to execute_collect, which splits the rows
                    result_df._moospark_with_totals = True  # noqa: SLF001
        return result_df, out_fmt, settings, time.time() - t0

    @staticmethod
    def _collect_with_totals(df: DataFrame, max_rows: int) -> QueryResult:
        """Collect a WITH TOTALS result (dialect `_rewrite_with_totals`:
        GROUPING SETS plus a hidden ``__ch_gid`` column) once and split
        it on ``__ch_gid``: gid 0 rows are the detail rows, in order,
        at most ``max_rows`` of them when it is positive; the gid != 0
        row becomes ``totals``, with NULL group keys replaced by CH
        default values. ``__ch_gid`` is dropped from the result."""
        from pyspark.sql import types as T

        res = QueryResult.from_dataframe(df)
        g = res.columns.index("__ch_gid")
        keep = [i for i in range(len(res.columns)) if i != g]
        types = [df.schema.fields[i].dataType for i in keep]
        detail, totals = [], None
        for r in res.rows:
            row = tuple(r[i] for i in keep)
            if r[g] == 0:
                detail.append(row)
            elif totals is None:
                totals = tuple(
                    v if v is not None
                    else 0 if isinstance(t, T.NumericType)
                    else "" if isinstance(t, T.StringType)
                    else None
                    for t, v in zip(types, row)
                )
        res.columns = [res.columns[i] for i in keep]
        res.ch_types = [res.ch_types[i] for i in keep]
        res.rows = detail[:max_rows] if max_rows > 0 else detail
        res.totals = totals
        return res


    # ------------------------------------------------------------ statements

    def _in_user_db(self, sess: UserSession):
        self._ensure_db(sess.spark_db())
        self.spark.catalog.setCurrentDatabase(sess.spark_db())

    _CTX_END_KW = frozenset(
        "WHERE GROUP ORDER LIMIT ON USING SELECT HAVING UNION INTERSECT "
        "EXCEPT WINDOW LATERAL SETTINGS DISTRIBUTE CLUSTER SORT SET".split()
    )

    def _cte_names(self, toks, sig) -> set:
        """Names bound by ``<ident> AS (`` — CTEs (and WINDOW clause
        names, harmlessly). These must never be database-qualified."""
        names = set()
        for k in range(len(sig) - 2):
            t = toks[sig[k]]
            if (
                t.kind in ("ident", "bquote")
                and toks[sig[k + 1]].upper == "AS"
                and toks[sig[k + 2]].text == "("
            ):
                names.add(t.text.strip("`").lower())
        return names

    def _table_known(self, tbl: str) -> bool:
        """Is the resolved table ``tbl`` a real catalog table? Cached
        per Spark db; DDL clears the cache (single process, so no
        cross-process staleness)."""
        db, name = _split_table(tbl)
        cache = self._tables_cache.get(db)
        if cache is None:
            try:
                cache = {
                    t.name.lower()
                    for t in self.spark.catalog.listTables(db)
                    if not t.isTemporary
                }
            except Exception:
                cache = set()
            self._tables_cache[db] = cache
        return name in cache

    def _is_temp_view(self, name: str) -> bool:
        """True only for session temp views (conformance tables etc.).
        ``getTable`` resolves temp views before the current database,
        so a concurrent thread's current-db switch can't alias another
        credential's table into a True here."""
        try:
            return bool(self.spark.catalog.getTable(name).isTemporary)
        except Exception:
            return False

    def _remap_databases(
        self, sess: UserSession, sql: str, created_views: Optional[list] = None
    ) -> str:
        """Fully qualify table refs into the per-user Spark database.

        ``db.table`` refs rewrite their db part; *unqualified* names in
        table position that exist in the session's current db gain an
        explicit db prefix, so the read path never needs
        ``setCurrentDatabase`` (shared-session state) and SELECTs run
        lock-free. CTE names, temp views, and table functions
        (``name(``) are left alone. ``FROM`` inside a function call
        (EXTRACT/substring/trim ... FROM x) does NOT open table
        context — subquery parens re-detect their own FROM.
        """
        toks = tokenize(sql)
        sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
        cte = self._cte_names(toks, sig)
        out = [t.text for t in toks]
        paren: list = []  # "sub" (subquery) | "func" (call) | "plain"
        from_depths: set = set()  # paren depths with an active FROM list
        table_ctx = False
        k = 0
        while k < len(sig):
            i = sig[k]
            t = toks[i]
            kw = t.text.upper() if t.kind == "ident" else ""
            if t.text == "(":
                nxt = toks[sig[k + 1]].upper if k + 1 < len(sig) else ""
                prev = toks[sig[k - 1]] if k > 0 else None
                if nxt in ("SELECT", "WITH"):
                    paren.append("sub")
                elif prev is not None and prev.kind in ("ident", "bquote"):
                    paren.append("func")
                else:
                    paren.append("plain")
                table_ctx = False
                k += 1
                continue
            if t.text == ")":
                if paren:
                    paren.pop()
                from_depths = {d for d in from_depths if d <= len(paren)}
                k += 1
                continue
            if kw in ("FROM", "JOIN", "INTO", "TABLE") or (
                kw in ("DESCRIBE", "DESC") and k == 0
            ):
                if kw == "FROM" and paren and paren[-1] == "func":
                    k += 1
                    continue  # EXTRACT(unit FROM x) and friends
                table_ctx = True
                if kw == "FROM":
                    from_depths.add(len(paren))
                k += 1
                continue
            if kw in self._CTX_END_KW:
                table_ctx = False
                from_depths.discard(len(paren))
                k += 1
                continue
            if t.kind == "op" and t.text not in ("(", ")", ",", "."):
                # a table ref never follows an operator (`table = 'x'`
                # is a column named table, not table context)
                table_ctx = False
                k += 1
                continue
            if table_ctx and t.kind in ("ident", "bquote"):
                # pattern: name '.' name  → qualify db part
                if (
                    k + 2 < len(sig)
                    and toks[sig[k + 1]].text == "."
                    and toks[sig[k + 2]].kind in ("ident", "bquote")
                ):
                    db = t.text.strip("`")
                    if db == "system":
                        # synthesized introspection tables (SURVEY §1.1;
                        # Play UI queries system.settings, index.html:27)
                        tbl = toks[sig[k + 2]].text.strip("`")
                        view = _materialize_system(self.spark, sess.ns, tbl, sess, engine=self)
                        if view is not None:
                            if created_views is not None:
                                created_views.append(view)
                            out[i] = view
                            out[sig[k + 1]] = ""
                            out[sig[k + 2]] = ""
                            k += 3
                            table_ctx = False
                            continue
                    out[i] = sess.spark_table(db, toks[sig[k + 2]].text.strip("`"))
                    out[sig[k + 1]] = ""
                    out[sig[k + 2]] = ""
                    k += 3
                elif k + 1 < len(sig) and toks[sig[k + 1]].text == "(":
                    k += 1  # table function (numbers(), file(), …)
                else:
                    name = t.text.strip("`")
                    tbl = sess.spark_table(None, name)
                    # Qualify BOTH known tables and unknown names (an
                    # unknown name must error inside this session's
                    # namespace, not resolve against whatever current
                    # database another thread last set). Only CTEs and
                    # temp views stay unqualified.
                    if (
                        name.lower() not in cte
                        and not name.startswith("__moospark")
                        and (self._table_known(tbl) or not self._is_temp_view(name))
                    ):
                        out[i] = tbl
                    k += 1
                table_ctx = False
                continue
            if t.text == "," and len(paren) in from_depths:
                table_ctx = True  # FROM a, b — comma join continues
            k += 1
        return "".join(out)

    def _prepare_sql(
        self,
        sess: UserSession,
        sql: str,
        created_views: Optional[list] = None,
        structure: Optional[str] = None,
    ) -> str:
        """Engine-side rewrites of translated Spark SQL: table functions,
        merge(), pipeline functions, dictGet, per-user databases and
        FINAL. ``structure`` is the schema url()/file() sources read
        text with when they declare none (an INSERT target's columns)."""
        if "__MOOSPARK_SESSION_USER__" in sql:
            # currentUser()/user() — the CH session identity, which is
            # the authenticated user, not the JVM OS user
            sql = sql.replace("__MOOSPARK_SESSION_USER__", sess.user.replace("'", "''"))
        low = sql.lower()
        if "url(" in low or "file(" in low:
            try:
                sql = resolve_table_functions(
                    self.spark, sql, default_schema=structure,
                    files_root=self.user_files_dir,
                )
            except EngineError:
                raise
            except Exception as e:
                raise EngineError(f"url()/file() source failed: {e}") from e
        if "merge(" in low.replace(" ", ""):
            sql = self._expand_merge(sess, sql)
        if _PIPELINE_FN_RE.search(sql):
            sql = self._expand_pipeline_fns(sess, sql, created_views)
        if sess.dictionaries and ("dictget" in low or "dicthas" in low):
            sql = self._expand_dict_functions(sess, sql)
        sql = self._remap_databases(sess, sql, created_views)
        if "final" in sql.lower():
            sql = self._expand_final(sql)
        return sql

    def _expand_final(self, sql: str) -> str:
        """``FROM t FINAL`` after db-remapping: for a table whose
        declared engine is Replacing*, substitute the keep-latest
        dedup (row_number over the MergeTree ORDER BY key, latest =
        max of the ReplacingMergeTree(ver) column when declared, else
        an arbitrary survivor — matching CH, where pre-merge survivor
        choice without ``ver`` is unspecified). Non-Replacing tables
        (and views/temp tables with no properties) just drop FINAL,
        which is exact for them: there is no unmerged-parts state.

        Scale note: the dedup is one window over the table's own sort
        key — at cluster scale that is a single hash-partitioned
        shuffle on the primary key, the same cost ClickHouse pays for
        a FINAL read's merge pass."""
        toks = tokenize(sql)
        sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
        # Clause-context scan: FINAL is a table modifier ONLY in
        # FROM/JOIN position. Keying off the previous token alone
        # mis-fired on the valid implicit column alias ``SELECT x
        # final FROM t`` (alias silently renamed + junk props lookups
        # — ADVICE r4). A linear pass suffices: FROM/JOIN open table
        # context; any select-list / condition / clause keyword
        # closes it (subquery SELECTs close it for their own list).
        _OPEN = {"FROM", "JOIN"}
        _CLOSE = {
            "SELECT", "WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER",
            "LIMIT", "OFFSET", "SETTINGS", "UNION", "INTERSECT",
            "EXCEPT", "ON", "USING", "WINDOW", "QUALIFY",
        }
        in_from: list[bool] = []
        state = False
        for i in sig:
            tt = toks[i]
            if tt.kind == "ident":
                up = tt.text.upper()
                if up in _OPEN:
                    state = True
                elif up in _CLOSE:
                    state = False
            in_from.append(state)
        changed = False
        for si, i in enumerate(sig):
            t = toks[i]
            if t.kind != "ident" or t.text.upper() != "FINAL" or si == 0:
                continue
            if not in_from[si]:
                continue  # FINAL outside FROM/JOIN position: identifier
            prev = toks[sig[si - 1]]
            if prev.kind not in ("ident", "bquote"):
                continue
            if prev.kind == "ident" and prev.text.upper() in (
                "SELECT", "AS", "FROM", "JOIN", "WHERE", "AND", "OR", "ON",
                "BY", "HAVING", "WHEN", "THEN", "ELSE", "IN", "NOT", ",",
            ):
                continue  # FINAL here is an identifier, not the modifier
            # table ref: walk back over [AS alias] and `db`.`tbl`
            j = si - 1
            alias = None
            if (
                j >= 2
                and toks[sig[j - 1]].kind == "ident"
                and toks[sig[j - 1]].text.upper() == "AS"
            ):
                alias = toks[sig[j]].text.strip("`")
                j -= 2  # ref ends before AS
            ref_idx = [sig[j]]
            if (
                j >= 2
                and toks[sig[j - 1]].text == "."
                and toks[sig[j - 2]].kind in ("ident", "bquote")
            ):
                ref_idx = [sig[j - 2], sig[j - 1], sig[j]]
            ref_text = "".join(toks[k].text for k in ref_idx)
            bare = alias or toks[ref_idx[-1]].text.strip("`")
            props = self._table_moospark_props(ref_text)
            eng = props.get("engine", "")
            t.text = ""  # FINAL never reaches Spark
            changed = True
            spec = self._final_partition_order(props)
            if not eng.startswith("Replacing") or spec is None:
                continue
            keys, order = spec
            toks[ref_idx[0]].text = (
                f"(SELECT * EXCEPT (__ch_fin) FROM (SELECT *, row_number() "
                f"OVER (PARTITION BY {keys} ORDER BY {order}) AS __ch_fin "
                f"FROM {ref_text}) WHERE __ch_fin = 1) AS `{bare}`"
            )
            for k in ref_idx[1:]:
                toks[k].text = ""
            if alias is not None:  # blank the original AS alias tokens
                toks[sig[si - 2]].text = ""
                toks[sig[si - 1]].text = ""
        return "".join(t.text for t in toks) if changed else sql

    def _final_partition_order(self, props: dict) -> Optional[tuple[str, str]]:
        """(partition_keys_sql, order_sql) for the FINAL keep-latest
        window, from a table's moospark.* props. Sort keys split on
        TOP-LEVEL commas only — ``ORDER BY (id, toYYYYMM(d))`` must
        not shear the call in half (ADVICE r4) — and function-call
        keys translate like any CH expression. The version column is
        the FIRST engine argument: ReplacingMergeTree(ver, is_deleted)
        orders by ver alone."""
        keys_txt = (props.get("order_by") or "").strip()
        if not keys_txt:
            return None
        raw = keys_txt[1:-1] if keys_txt.startswith("(") and keys_txt.endswith(")") else keys_txt
        parts = [p for p in split_text(raw) if p]
        if not parts:
            return None

        def key_sql(p: str) -> str:
            bare = p.strip("`")
            if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", bare):
                return f"`{bare}`"
            try:
                return self._translate_expr(p)
            except Exception:  # noqa: BLE001 — last resort: verbatim
                return p

        keys = ", ".join(key_sql(p) for p in parts)
        args_raw = (props.get("engine_args") or "").strip()
        ver = split_text(args_raw)[0] if args_raw else ""
        order = f"`{ver.strip('`')}` DESC" if ver else keys
        return keys, order

    def _expand_pipeline_fns(
        self, sess: UserSession, sql: str, created_views: Optional[list]
    ) -> str:
        """SQL-callable pipeline operators (SURVEY §7 Phase G: the
        extension library 'expressed as SQL-callable table
        functions'): ``exactDedup(t)``, ``minhashPairs(t[, min_j])``,
        ``qualityScore(t)``, ``langId(t)``, ``scrubDupSpans(t[, n[,
        min_docs]])``, ``bm25(t, 'query'[, k])`` in TABLE position
        only (the call must directly follow FROM or JOIN — an
        identifier merely sharing a function's name, e.g. a table
        named bm25 in ``INSERT INTO bm25 (cols)``, is left alone;
        nested fn-as-table-arg is handled inside the resolver)
        build the operator DataFrame over the session's table and
        substitute a temp view — so both wire protocols reach the
        dedup/retrieval/text library, not just the Python API. The
        view joins ``created_views`` and follows the url()/system
        lifecycle: analyzed eagerly, dropped post-analysis, never
        plan-cached (operator plans re-resolve per execution, so an
        INSERT between calls is seen).

        The source table must carry the operators' default columns
        (doc_id, text) — the resolution error names the table if not.
        """
        toks = tokenize(sql)
        out: list[str] = []
        i = 0
        changed = False
        prev_sig = None  # last significant token seen (lowercased)
        while i < len(toks):
            t = toks[i]
            if (
                t.kind == "ident"
                and t.text.lower() in _PIPELINE_FNS
                and prev_sig in ("from", "join")
            ):
                j = i + 1
                while j < len(toks) and toks[j].kind in ("ws", "comment"):
                    j += 1
                k = find_close(toks, j) if j < len(toks) and toks[j].text == "(" else -1
                if k != -1:
                    out.append(
                        self._pipeline_fn_view(
                            sess, t.text.lower(), toks[j + 1 : k], created_views
                        )
                    )
                    i = k + 1
                    changed = True
                    continue
            out.append(t.text)
            if t.kind not in ("ws", "comment"):
                prev_sig = t.text.lower()
            i += 1
        return "".join(out) if changed else sql

    def _pipeline_fn_view(
        self, sess: UserSession, name: str, arg_toks,
        created_views: Optional[list] = None,
    ) -> str:
        usage, params, operator = _PIPELINE_FNS[name]
        args = [
            [t for t in a if t.kind not in ("ws", "comment")]
            for a in split_args(arg_toks)
        ]
        lits = [_pipeline_literal(a) for a in args[1:]]
        if (
            not args
            or not args[0]
            or len(lits) > len(params)
            or any(required for _, _, required in params[len(lits):])
        ):
            raise EngineError(f"{name}: usage {usage}", 42)
        kwargs = {}
        for (key, kind, _), v in zip(params, lits):
            typ, conv = _LITERAL_KINDS[kind]
            if not isinstance(v, typ):
                raise EngineError(f"{name}: {key} must be a {kind} literal — usage {usage}", 42)
            kwargs[key] = conv(v)
        # nested composition: the table argument may itself be a
        # pipeline fn — bm25(exactDedup(t), 'q', 5) — resolved
        # depth-first into its own (per-statement, dropped-later) view
        head = args[0]
        ref = "".join(t.text for t in head)
        if (
            len(head) >= 3
            and head[0].kind == "ident"
            and head[0].text.lower() in _PIPELINE_FNS
            and head[1].text == "("
            and head[-1].text == ")"
        ):
            inner = self._pipeline_fn_view(
                sess, head[0].text.lower(), head[2:-1], created_views
            )
            df = self.spark.table(inner)
        else:
            try:
                df = self.spark.table(sess.spark_table(*split_ref(ref)))
            except Exception as e:
                raise EngineError(
                    f"{name}: unknown table '{ref}': {e}", 60
                ) from e
        try:
            res = operator(df, **kwargs)
        except Exception as e:
            raise EngineError(f"{name} over '{ref}' failed: {e}", 36) from e
        import uuid as _uuid

        with self._lock:
            self._opfn_counter += 1
            # counter keeps names debuggable; the uuid suffix makes them
            # unguessable so a concurrent session can't SELECT another
            # credential's in-flight result view by name in the window
            # between creation and the post-analysis drop
            view = (
                f"__moospark_opfn_{self._opfn_counter}_{_uuid.uuid4().hex}"
            )
        res.createOrReplaceTempView(view)
        if created_views is not None:
            created_views.append(view)
        return view

    def _expand_merge(self, sess: UserSession, sql: str) -> str:
        """CH ``merge('db', 'table_regex')`` / ``merge(db, 'regex')``
        table function → UNION ALL of the matching tables in that
        database (name-matched against the session's visible names)."""
        import re as _re2

        def repl(m: "_re2.Match[str]") -> str:
            db = m.group("db").strip().strip("'\"`") if m.group("db") else sess.current_db
            pat = m.group("pat")
            spark_db = sess.spark_db(db)
            try:
                names = [
                    t.name
                    for t in self.spark.catalog.listTables(spark_db)
                    if t.tableType != "TEMPORARY" and _re2.search(pat, t.name)
                ]
            except Exception:
                names = []
            if not names:
                raise EngineError(
                    f"merge('{db}', '{pat}') matched no tables", 60
                )
            union = " UNION ALL ".join(
                f"SELECT * FROM `{db}`.`{n}`" for n in sorted(names)
            )
            return f"({union})"

        return _re2.sub(
            r"(?is)\bmerge\s*\(\s*(?:(?P<db>[^,()]+)\s*,\s*)?'(?P<pat>[^']*)'\s*\)",
            repl,
            sql,
        )

    def _expand_schema_macros(self, sql: str) -> str:
        """CH select-list macros that need the source schema:
        ``SELECT * APPLY (fn) FROM rest`` applies *fn* to every source
        column; ``COLUMNS('re')`` expands to the columns matching the
        regex. Schema comes from an analysis-only LIMIT 0 plan of the
        remainder — no execution."""
        import re as _re2

        m = _re2.match(
            r"(?is)^\s*SELECT\s+\*\s+APPLY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+FROM\s+(.*)$",
            sql,
        )
        if m:
            fn, rest = m.group(1), m.group(2)
            cols = self.spark.sql(f"SELECT * FROM {rest} LIMIT 0").columns
            proj = ", ".join(
                f"{fn}(`{c}`) AS `{fn}({c})`" for c in cols
            )
            return f"SELECT {proj} FROM {rest}"
        m = _re2.match(
            r"(?is)^\s*SELECT\s+COLUMNS\s*\(\s*'([^']*)'\s*\)(.*?)\s+FROM\s+(.*)$",
            sql,
        )
        if m:
            pat, rest_sel, rest = m.group(1), m.group(2), m.group(3)
            cols = self.spark.sql(f"SELECT * FROM {rest} LIMIT 0").columns
            keep = [c for c in cols if _re2.search(pat, c)]
            if not keep:
                raise EngineError(f"COLUMNS('{pat}') matched no columns", 51)
            proj = ", ".join(f"`{c}`" for c in keep)
            return f"SELECT {proj}{rest_sel} FROM {rest}"
        return sql

    def _run_select(self, sess: UserSession, sql: str) -> DataFrame:
        # Lock-free: every table ref is fully qualified by
        # _remap_databases, so no shared-session current-database
        # switch is needed and concurrent reads don't serialize.
        self._ensure_db(sess.spark_db())
        created: list = []
        try:
            prepared = self._prepare_sql(sess, sql, created)
            if " apply " in prepared.lower() or "columns(" in prepared.lower().replace(" ", ""):
                prepared = self._expand_schema_macros(prepared)
            key = None
            if not created and self._plan_cacheable(prepared):
                key = f"{self._catalog_gen}\x00{prepared}"
                with self._lock:
                    hit = self._plan_cache.get(key)
                    if hit is not None:
                        self._plan_cache.move_to_end(key)
                if hit is not None and not self._temp_views_unchanged(hit[2]):
                    # a referenced TEMP VIEW was replaced directly on
                    # the SparkSession (outside engine DDL): drop the
                    # stale entry and re-plan
                    with self._lock:
                        self._plan_cache.pop(key, None)
                    hit = None
                if hit is not None:
                    # Two reuse tiers, both execution-honest:
                    #
                    # HOT (non-AQE plans whose executed plan holds no
                    # BroadcastExchange / Subquery / InMemoryTableScan):
                    # return the SAME Dataset, after unregistering its
                    # shuffles' map outputs with MapOutputTrackerMaster.
                    # Scan/result stages always re-run on re-collect
                    # (Spark caches no stage output outside shuffle
                    # files), and dropping the map-output registration
                    # forces the DAGScheduler to re-run every shuffle
                    # map stage too — the exact recompute path executor
                    # loss takes, so every byte is re-scanned, re-
                    # aggregated and re-shuffled on each run. What the
                    # hot tier skips is only driver-side plan
                    # bookkeeping (doExecute RDD wiring + codegen
                    # source generation, ~60 ms/query at 10M; cb15
                    # fresh 0.28s vs hot 0.22s with map stages
                    # verifiably re-running). Plans with broadcasts,
                    # subqueries, or cached relations stay out: those
                    # node types memoize their results inside the plan
                    # object, which WOULD be result reuse. Single-task
                    # plans (small scans, _single_task) have no shuffle
                    # at all: nothing to reset, and re-collect re-runs
                    # their one stage from the scan.
                    #
                    # WARM (everything else): rebuild a fresh Dataset
                    # from the cached optimized plan — new Exchange
                    # nodes whose shuffle dependencies have never run.
                    # Starting from optimizedPlan() (not analyzed())
                    # leaves the re-run optimizer nothing to rewrite
                    # (measured ~23 ms/query at 10M), and Spark marks
                    # that plan analyzed, so the analyzer is skipped.
                    # Returning the cached DataFrame without the
                    # map-output reset would let Spark skip completed
                    # shuffle stages on re-collect — result caching in
                    # disguise, which would fake hot-run benchmarks
                    # and serve stale data.
                    #
                    # Staleness is covered by the same guards for both
                    # tiers: the cache key carries _catalog_gen
                    # (bumped on every DDL/INSERT) and TEMP VIEW
                    # semanticHash guards.
                    hit_df, width, _guards, hot = hit
                    if width is not None and hot.get("state") != "unsafe":
                        if hot.get("state") is None:
                            st, ids = self._hot_reuse_info(hit_df)
                            hot["state"], hot["ids"] = st, ids
                        if hot.get("state") == "safe":
                            self._reset_shuffle_outputs(hot["ids"])
                            return hit_df
                    return self._rebuild_from_cache(hit_df, width)
            df, width = self._plan_select(prepared, engine_views=bool(created))
            if key is not None:
                with self._lock:
                    self._plan_cache[key] = (
                        df, width, self._temp_view_guards(df), {"state": None}
                    )
                    self._plan_cache.move_to_end(key)
                    while len(self._plan_cache) > self._plan_cache_max:
                        self._plan_cache.popitem(last=False)
            return df
        except EngineError:
            raise
        except Exception as e:
            raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e
        finally:
            # spark.sql() analyzed the plan eagerly; the views are no
            # longer needed and must not linger (cross-credential
            # visibility + unbounded accumulation).
            for v in created:
                try:
                    self.spark.catalog.dropTempView(v)
                except Exception:
                    pass

    # Scans below this total size plan WITHOUT adaptive execution and
    # with a statically-sized shuffle width (one partition per ~16 MB).
    # AQE's per-stage materialize/re-optimize barrier is pure overhead
    # when the whole input fits in one or two partitions; the r4
    # interleaved min-of-3 A/B puts the crossover near this size:
    # 100k-row sample (6 MB): static 3.59s vs AQE 4.29s sweep total;
    # 10M rows (590 MB): static 13.3s vs AQE 12.8s.  Under 16 MB the
    # width is 1 and the plan runs as ONE task of one stage
    # (_single_task) instead of a 2-task scan, a 1-partition shuffle
    # and a 1-task final stage (~20 ms of fixed dispatch per stage):
    # perfbench `dashboard`, 4 cores, 10 interleaved pairs, sweep
    # 0.85 -> 0.63 s and p50 latency 231 -> 177 ms (medians), 3.7 ->
    # 1.25 tasks per query.  Above the
    # threshold AQE keeps runtime coalescing + skew-join splitting —
    # the 100 TB story; any real table blows past this on its first
    # leaf.
    SMALL_SCAN_BYTES = 64 << 20

    def _plan_select(
        self, prepared: str, engine_views: bool = False
    ) -> tuple[DataFrame, Optional[int]]:
        """Build + fast-path a statement; returns (df, width) where
        width is the static shuffle width the plan was forced to, or
        None when it plans under the session conf (adaptive).

        Small scans plan statically at one shuffle partition per
        ~16 MB of leaf bytes. When that width is 1 (leaf bytes under
        16 MB) the catalog-table scans are also coalesced to one
        partition, so the whole statement runs as one task of one
        stage (_single_task), unless ``engine_views`` says the
        statement reads views the engine made for it (pipeline table
        functions, system tables, url()/file()): those operators keep
        their parallel plan."""
        df = self.spark.sql(prepared)
        try:
            if self.spark.conf.get("spark.sql.adaptive.enabled") != "true":
                return df, None
            size = self._leaf_scan_bytes(df)
            if size is None or size > self.SMALL_SCAN_BYTES:
                if self._is_single_shuffle_agg(df):
                    # A single-Aggregate plan (grouped, global, or
                    # distinct-rewritten; no join/window) compiles to
                    # 1-3 chained exchanges keyed on grouping columns.
                    # AQE contributes only partition coalescing to such
                    # a plan — its skew handling is join-only — and
                    # that coalesce costs a materialize+re-plan barrier
                    # per exchange on every run; short aggregates pay
                    # it most (4-core A/B, see _is_single_shuffle_agg:
                    # cb00 0.067 s here vs 0.151 s under AQE, cb07
                    # 0.265 vs 0.373 s).  Shuffle width stays at the
                    # session default, the same width AQE starts from.
                    return df, self._plan_static(df)
                return df, None
            # Static planning loses AQE's partition coalescing, so pick
            # the shuffle width AQE would have picked — one partition
            # per ~16 MB of input, capped at the session default.  The
            # r4 A/B on the 100k-row ClickBench sample: leaving width
            # at 32 made the static path a net LOSS (10.3s vs 6.7s
            # sweep); sizing it statically keeps both the no-barrier
            # win and the small-shuffle win.
            cap = (size >> 24) + 1
            if cap == 1 and not engine_views:
                df = self._single_task(df)
            return df, self._plan_static(df, cap)
        except Exception:  # noqa: BLE001 — fast path must never break a query
            return df, None

    @functools.cached_property
    def _jvm_plans(self) -> SimpleNamespace:
        """JVM classes the plan rewrites call. Resolving a class by its
        dotted path costs a py4j round trip per package segment (~10
        ms), so each is looked up once per engine."""
        jvm = self.spark._jvm  # noqa: SLF001
        return SimpleNamespace(
            Dataset=jvm.org.apache.spark.sql.classic.Dataset,
            HashMap=jvm.java.util.HashMap,
            Repartition=jvm.org.apache.spark.sql.catalyst.plans.logical.Repartition,
            as_scala=jvm.scala.jdk.javaapi.CollectionConverters.asScala,
            python_udf=jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PYTHON_UDF(),
        )

    def _single_task(self, df: DataFrame) -> DataFrame:
        """``df`` with each catalog-table scan wrapped in a non-shuffle
        ``Repartition(1)``. Spark plans that as ``CoalesceExec(1)``,
        whose output is ``SinglePartition``, so EnsureRequirements adds
        no exchange above it: aggregates (DISTINCT included), sorts,
        TakeOrderedAndProject and windows run in the scan's one task.
        Filters and column pruning still push through into the scan.

        The analyzed plan is rewritten in place (``transformUp`` with a
        leaf -> wrapped-leaf map as the rule) and marked analyzed, so
        nothing is parsed or analyzed twice. Left as they are: plans
        holding a Python UDF or Python map operator (their Arrow work
        would collapse onto one core), and every leaf that is not a
        catalog table: DataSourceV2 scans (coalescing one blocks the
        parquet-footer MIN/MAX/COUNT pushdown), ``numbers()``, local
        relations."""
        t = self._jvm_plans
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        if plan.containsPattern(t.python_udf):
            return df
        leaves = plan.collectLeaves()
        swap = t.HashMap()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRelation" and leaf.catalogTable().isDefined():
                swap.put(leaf, t.Repartition(1, False, leaf))
        if swap.isEmpty():
            return df
        new = plan.transformUp(t.as_scala(swap))
        new.setAnalyzed()
        jdf = t.Dataset.ofRows(self.spark._jsparkSession, new)  # noqa: SLF001
        return DataFrame(jdf, df.sparkSession)

    def _plan_static(self, df: DataFrame, cap: Optional[int] = None) -> int:
        """Force ``df``'s physical planning with AQE off, at the session
        shuffle width capped at ``cap``; returns the width used.

        spark.sql is analysis-eager only, so physical planning has not
        run yet; forcing it inside the window bakes the static plan into
        the QueryExecution (which memoizes it) before the conf is
        restored. This is the one place the engine flips
        ``spark.sql.adaptive.enabled``."""
        with self._conf_lock:
            prev = self.spark.conf.get("spark.sql.adaptive.enabled")
            prev_parts = self.spark.conf.get("spark.sql.shuffle.partitions")
            width = int(prev_parts) if cap is None else min(int(prev_parts), cap)
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(width))
            try:
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            finally:
                self.spark.conf.set("spark.sql.adaptive.enabled", prev)
                self.spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        return width

    def _temp_view_guards(self, df: DataFrame) -> dict:
        """semanticHash fingerprints of every TEMP VIEW the analyzed
        plan references — replacing a view directly on the
        SparkSession changes its stored plan's hash, which is the one
        catalog mutation the engine's DDL generation counter cannot
        see."""
        import re as _re

        guards: dict[str, int] = {}
        try:
            txt = str(df._jdf.queryExecution().analyzed())  # noqa: SLF001
            cat = self.spark._jsparkSession.sessionState().catalog()  # noqa: SLF001
            for name in set(_re.findall(r"View \(`([^`]+)`", txt)):
                opt = cat.getTempView(name)
                if opt.isDefined():
                    guards[name] = int(opt.get().semanticHash())
        except Exception:  # noqa: BLE001 — guard failure = no caching risk
            guards["__unguardable__"] = -1
        return guards

    def _temp_views_unchanged(self, guards: dict) -> bool:
        if "__unguardable__" in guards:
            return False
        if not guards:
            return True
        try:
            cat = self.spark._jsparkSession.sessionState().catalog()  # noqa: SLF001
            for name, h in guards.items():
                opt = cat.getTempView(name)
                if not opt.isDefined() or int(opt.get().semanticHash()) != h:
                    return False
            return True
        except Exception:  # noqa: BLE001
            return False

    _NONDETERMINISTIC_MARKERS = (
        "now(", "now64", "rand", "uuid", "current_timestamp",
        "current_date", "today(", "yesterday(", "generaterandom",
        "shuffle(", "unix_timestamp()",
    )

    def _plan_cacheable(self, prepared: str) -> bool:
        low = prepared.lower()
        return not any(m in low for m in self._NONDETERMINISTIC_MARKERS)

    @staticmethod
    def _is_single_shuffle_agg(df: DataFrame) -> bool:
        """True iff the analyzed plan is a single Aggregate (grouped
        or global) over a join-free, window-free subtree (wrapped in
        Project/Limit/Sort at most) with no DISTINCT aggregates.

        Such a plan compiles to scan -> partial agg -> exchange ->
        final agg (+ TakeOrderedAndProject for the ORDER BY ... LIMIT
        form), and AQE's only possible contribution is coalescing the
        exchanges — skew splitting applies to joins only.
        COUNT(DISTINCT) plans (one analyzed Aggregate whose expression
        carries the distinct flag; RewriteDistinctAggregates splits it
        at optimization) qualify too: they compile to 2-3 chained
        exchanges, submitted as ONE DAGScheduler job instead of AQE's
        per-stage materialize barriers.

        Measured in-process on 4 cores over the 10M-row
        tools/gen_hits.py view (arms interleaved per query, 6
        plan-cache-hit samples each): planning these adaptively, with
        the HOT-tier shuffle reset deleted too, took the 33 ClickBench
        queries that reach this path from 46.2 to 48.2 s (summed
        medians; slower on 25 of 33). A second, three-arm run over the
        27 queries that took the path there read 30.8 s as is, 31.5 s
        with only the reset deleted and 32.4 s with both deleted. The
        gain is in short aggregates; cb22 reads the same either way at
        this width (1.42 vs 1.43 s).
        """
        try:
            node = df._jdf.queryExecution().analyzed()  # noqa: SLF001
            for _ in range(5):
                name = node.getClass().getSimpleName()
                # Filter here is a HAVING clause (post-aggregation);
                # WHERE filters sit below the Aggregate node.
                if name in ("Project", "GlobalLimit", "LocalLimit", "Sort", "Filter"):
                    node = node.children().head()
                else:
                    break
            if node.getClass().getSimpleName() != "Aggregate":
                return False
            sub = node.toString()
            return (
                sub.count("Aggregate") == 1
                and "Join" not in sub
                and "Window" not in sub
            )
        except Exception:  # noqa: BLE001
            return False

    @staticmethod
    def _leaf_scan_bytes(df: DataFrame) -> Optional[int]:
        """Sum of leaf-relation size estimates from the analyzed plan.

        Missing stats report Long.MaxValue (Spark's defaultSizeInBytes),
        which safely fails the small-scan test.
        """
        try:
            leaves = df._jdf.queryExecution().analyzed().collectLeaves()  # noqa: SLF001
            total = 0
            for i in range(leaves.length()):
                total += int(str(leaves.apply(i).stats().sizeInBytes()))
            return total
        except Exception:  # noqa: BLE001
            return None

    def _rebuild_from_cache(
        self, hit_df: DataFrame, width: Optional[int]
    ) -> DataFrame:
        """Fresh Dataset from a cached statement's optimized plan,
        re-applying its static-planning width. Execution state is
        untouched: the new QueryExecution's exchanges have never run.
        Spark marks an optimized plan analyzed, so the analyzer does not
        run over it again."""
        jdf = self._jvm_plans.Dataset.ofRows(
            self.spark._jsparkSession,  # noqa: SLF001
            hit_df._jdf.queryExecution().optimizedPlan(),  # noqa: SLF001
        )
        df2 = DataFrame(jdf, hit_df.sparkSession)
        if width is not None:
            self._plan_static(df2, width)
        return df2

    def _hot_reuse_info(self, hit_df: DataFrame):
        """Classify a cached, already-executed Dataset for the hot
        reuse tier; returns ("safe", [shuffleId, ...]) or
        ("unsafe", None).

        Safe = the executed plan contains no node type that memoizes
        results inside the plan object (BroadcastExchange caches its
        built relation, Subquery/ReusedSubquery cache their scalar
        result, InMemoryTableScan reads a cached RDD) — for such
        plans, re-collect recomputes every stage once the shuffle map
        outputs are unregistered. AQE plans never reach here (width
        None is excluded at the call site): their query stages hold
        materialized results the final plan would reuse."""
        try:
            plan = hit_df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            txt = plan.toString()
            if ("BroadcastExchange" in txt or "ubquery" in txt
                    or "InMemoryTableScan" in txt
                    or "AdaptiveSparkPlan" in txt):
                return "unsafe", None
            ids: list[int] = []

            def walk(node):
                if "ShuffleExchange" in node.getClass().getSimpleName():
                    ids.append(int(node.shuffleDependency().shuffleId()))
                it = node.children().iterator()
                while it.hasNext():
                    walk(it.next())

            walk(plan)
            return "safe", ids
        except Exception:  # noqa: BLE001 — classification failure = warm tier
            return "unsafe", None

    def _reset_shuffle_outputs(self, shuffle_ids) -> None:
        """Drop the registered map outputs for the given shuffles so
        the next job re-runs their map stages (the executor-loss
        recompute path). This is what keeps hot Dataset reuse
        execution-honest."""
        tracker = self.spark.sparkContext._jsc.sc().env().mapOutputTracker()  # noqa: SLF001
        for sid in shuffle_ids or ():
            try:
                tracker.unregisterAllMapAndMergeOutput(int(sid))
            except Exception:  # noqa: BLE001
                # ShuffleStatusNotFound: the dependency was created but
                # the shuffle never ran (Dataset not yet collected) or
                # the ContextCleaner already dropped it — either way
                # there is no output to reset and the next run
                # executes from scratch.
                pass

    def _invalidate_plans(self) -> None:
        with self._lock:
            self._catalog_gen += 1
            self._plan_cache.clear()

    def _run_insert(self, sess: UserSession, sql: str) -> None:
        """``INSERT INTO t [(cols)] SELECT|WITH|VALUES …``: the body is
        prepared and planned on its own, named after the target's
        columns and appended through ``_append``."""
        hdr = parse_insert(sql)
        body = sql[hdr.body_at :].strip() if hdr else ""
        kind = _INSERT_BODY_RE.match(body)
        if kind is None:
            raise EngineError(f"Syntax error: unsupported INSERT form: {sql[:200]}", 62)
        created: list = []
        with self._lock:
            self._in_user_db(sess)
            try:
                tbl = sess.spark_table(*split_ref(hdr.ref))
                fields = {f.name.lower(): f for f in self.spark.table(tbl).schema.fields}
                names = hdr.columns or [f.name for f in fields.values()]
                picked = [fields.get(n.lower()) for n in names]
                unknown = [n for n, f in zip(names, picked) if f is None]
                if unknown:
                    raise EngineError(f"Unknown column(s) {unknown} in {hdr.ref}", 47)
                if kind.group(1).upper() == "VALUES":
                    body = values_query(
                        body, [f.metadata.get("CURRENT_DEFAULT", "NULL") for f in picked]
                    )
                # CH types bare url()/file() text sources from the insert
                # target (structure hint): `SELECT * FROM url('…hits_v1.tsv.xz',
                # 'TSV')` parses all 105 columns with the table's names
                # and types instead of untyped `_c0…` strings (reference
                # CI load, test.yml:50)
                structure = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}" for f in picked
                )
                block = self.spark.sql(self._prepare_sql(sess, body, created, structure))
                if len(block.columns) != len(names):
                    raise EngineError(
                        f"INSERT column count mismatch: {len(block.columns)} vs {len(names)}",
                        20,
                    )
                self._append(sess, tbl, block.toDF(*names), names)
            except EngineError:
                raise
            except Exception as e:
                raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e
            finally:
                for v in created:
                    try:
                        self.spark.catalog.dropTempView(v)
                    except Exception:
                        pass

    def _append(
        self,
        sess: UserSession,
        tbl: str,
        block: DataFrame,
        names: list[str],
        _depth: int = 0,
    ) -> None:
        """The one write of every INSERT form. The block's columns
        ``names`` are matched to ``tbl``'s by name, case-insensitively,
        and cast to their types (permissive, as LEGACY store assignment
        is: `'2024-01-05'` into a Date column casts); a column the
        block omits takes its declared DEFAULT (Spark's
        ``CURRENT_DEFAULT``) or NULL, and a block column the table
        lacks is dropped (an MV's extra SELECT columns). The rows are
        sorted on the table's ORDER BY (MergeTree sort-on-write), written
        once, and the plan cache is invalidated after the write lands,
        so a SELECT planned meanwhile is not kept against the old
        files. Then each materialized view reading ``tbl`` appends its
        SELECT over the same block (CH's insert trigger; views reading
        MV storage chain, to depth 10). The block is cached only when
        an MV reads it."""
        from pyspark.sql import functions as F

        given = {n.lower(): n for n in names}
        cols = []
        for f in self.spark.table(tbl).schema.fields:
            src = given.get(f.name.lower())
            col = (
                F.col(f"`{src}`")
                if src is not None
                else F.expr(f.metadata.get("CURRENT_DEFAULT", "NULL"))
            )
            cols.append(col.cast(f.dataType).alias(f.name))
        block = block.select(*cols)
        mvs = self._mvs_for(sess, tbl) if _depth < 10 else []
        if mvs:
            block = block.cache()
        view = f"__moospark_mv_delta_{_depth}"
        try:
            try:
                self._sort_for_write(block, self._table_order_by(tbl)).write.insertInto(tbl)
            finally:
                self._invalidate_plans()
            if mvs:
                block.createOrReplaceTempView(view)
            for storage, body in mvs:
                out = self.spark.sql(body.replace(tbl, view))
                self._append(sess, storage, out, out.columns, _depth + 1)
        finally:
            if mvs:
                self.spark.catalog.dropTempView(view)
                block.unpersist()

    def resolve_table(
        self,
        table_ref: str,
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
    ) -> str:
        """A CH table reference (``t`` or ``db.t``) resolved in the
        credential pair's unnamed session (the native protocol has no
        session id)."""
        sess = self.get_session(user, password)
        if database:
            sess.current_db = database
        return sess.spark_table(*split_ref(table_ref))

    def table_columns(
        self,
        table_ref: str,
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
    ) -> tuple[list[str], list[str]]:
        """Column names + CH type names of a session table (the
        native-INSERT sample block the server must send, §3.2)."""
        return self._ch_columns(self.resolve_table(table_ref, user, password, database))

    def _ch_columns(self, tbl: str) -> tuple[list[str], list[str]]:
        """Column names + CH type names (from the Spark types) of a
        resolved table."""
        from .dialect.types import spark_type_to_ch

        with self._lock:
            try:
                schema = self.spark.table(tbl).schema
            except Exception as e:
                raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e
        return (
            [f.name for f in schema.fields],
            [spark_type_to_ch(f.dataType, f.nullable) for f in schema.fields],
        )

    def insert_rows(
        self,
        table_ref: str,
        names: list[str],
        rows: list[tuple],
        user: str = "default",
        password: str = "",
        database: Optional[str] = None,
        ch_types: Optional[list[str]] = None,
    ) -> None:
        """Append externally-supplied rows (native-protocol INSERT data
        blocks) to a table of the credential pair's unnamed session;
        see ``_insert_rows``."""
        sess = self.get_session(user, password)
        if database:
            sess.current_db = database
        self._insert_rows(sess, table_ref, names, rows, ch_types)

    def _insert_rows(
        self,
        sess: UserSession,
        table_ref: str,
        names: list[str],
        rows: list[tuple],
        ch_types: Optional[list[str]] = None,
    ) -> None:
        """Append rows held in Python through ``_append``. *ch_types* (a
        native block's declared types, or String for text formats) makes
        the source schema explicit. Without them the values' own types
        are inferred (JSON, Avro, …), and a column with no value to
        infer from takes the target column's type."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from .dialect.types import ch_type_to_spark

        with self._lock:
            try:
                tbl = sess.spark_table(*split_ref(table_ref))
                known = {c.lower() for c in self.spark.table(tbl).columns}
                unknown = [n for n in names if n.lower() not in known]
                if unknown:
                    raise EngineError(f"Unknown column(s) {unknown} in {table_ref}", 47)
                if ch_types is not None:
                    block = local_df(
                        self.spark,
                        rows,
                        T.StructType(
                            [
                                T.StructField(n, ch_type_to_spark(t), True)
                                for n, t in zip(names, ch_types)
                            ]
                        ),
                    )
                else:
                    # Spark cannot infer a type from NULLs alone: such a
                    # column is an untyped NULL, which _append casts
                    full = [i for i in range(len(names)) if any(r[i] is not None for r in rows)]
                    src = (
                        self.spark.createDataFrame(
                            [tuple(r[i] for i in full) for r in rows],
                            schema=[names[i] for i in full],
                        )
                        if full
                        else self.spark.range(len(rows))
                    )
                    block = src.select(
                        *[
                            F.col(f"`{n}`") if i in full else F.lit(None).alias(n)
                            for i, n in enumerate(names)
                        ]
                    )
                self._append(sess, tbl, block, names)
            except EngineError:
                raise
            except Exception as e:
                raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e

    def _table_order_by(self, tbl: str) -> Optional[str]:
        """moospark.order_by property of ``tbl`` (cached), or None."""
        return self._table_moospark_props(tbl).get("order_by")

    def _table_moospark_props(self, tbl: str) -> dict:
        """The ``moospark.*`` TBLPROPERTIES of ``tbl`` (cached):
        order_by / engine / engine_args / partition_by."""
        if tbl not in self._order_by_cache:
            props: dict = {}
            try:
                for r in self.spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect():
                    if r["key"].startswith("moospark."):
                        props[r["key"][len("moospark."):]] = r["value"]
            except Exception:
                props = {}
            self._order_by_cache[tbl] = props
        return self._order_by_cache[tbl]

    def _sort_for_write(self, df: DataFrame, order_by: Optional[str]) -> DataFrame:
        """``df`` sorted within partitions on a table's declared ORDER BY
        keys. ``a, f(b)``, ``(a, f(b))`` and ``tuple(a, f(b))`` name
        the same keys; ``tuple()`` names none. Keys may use CH
        spellings (toYYYYMM, intHash32), so each is translated."""
        from pyspark.sql import functions as F

        toks = tokenize(order_by or "")
        sig = significant(toks)
        if sig and toks[sig[0]].upper == "TUPLE":
            sig = sig[1:]
        if sig and toks[sig[0]].text == "(" and find_close(toks, sig[0]) == sig[-1]:
            toks = toks[sig[0] + 1 : sig[-1]]
        keys = arg_texts(toks)
        if not keys:
            return df
        return df.sortWithinPartitions(*[F.expr(self._translate_expr(k)) for k in keys])

    _DICT_CREATE_RE = None  # compiled lazily below

    def _create_dictionary(self, sess: UserSession, sql: str) -> None:
        """CREATE DICTIONARY name (attrs…) PRIMARY KEY k
        SOURCE(CLICKHOUSE(TABLE 't' [DB 'd'])) LAYOUT(…) LIFETIME(…).

        LAYOUT/LIFETIME are storage/refresh policy in CH — here the
        'layout' is whatever plan Catalyst picks for the lookup join
        (broadcast for any real dictionary) and freshness is the
        source table itself, so both parse and are ignored."""
        import re as _re

        m = _re.match(
            r"(?is)\s*CREATE\s+(?:OR\s+REPLACE\s+)?DICTIONARY\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?(?P<name>[\w.`\"]+)\s*\((?P<attrs>.*?)\)\s*"
            r"PRIMARY\s+KEY\s+(?P<key>[\w`\", ]+?)\s+SOURCE\s*\(",
            sql,
        )
        if not m:
            raise EngineError("Cannot parse CREATE DICTIONARY statement", 62)
        name = m.group("name").strip("`\"")
        key = m.group("key").strip().strip("`\"")
        if "," in key:
            raise EngineError("composite dictionary keys are not supported", 48)
        tm = _re.search(r"(?i)TABLE\s+'(?P<t>[^']+)'", sql)
        dbm = _re.search(r"(?i)\bDB\s+'(?P<d>[^']+)'", sql)
        if not tm:
            raise EngineError("SOURCE(... TABLE '...') is required", 62)
        source = tm.group("t")
        if dbm:
            source = f"{dbm.group('d')}.{source}"
        attrs: dict = {}
        for a in split_args(tokenize(m.group("attrs"))):
            # name type [DEFAULT v] [EXPRESSION e] [HIERARCHICAL] [INJECTIVE]
            sig = significant(a)
            if len(sig) < 2:
                continue
            marks = [
                i for i in sig[1:]
                if a[i].upper in ("DEFAULT", "EXPRESSION", "HIERARCHICAL", "INJECTIVE")
            ] + [len(a)]
            default = None
            for lo, hi in zip(marks, marks[1:]):
                if a[lo].upper == "DEFAULT":
                    default = render(a[lo + 1 : hi]).strip()
            atype = render(a[sig[0] + 1 : marks[0]]).strip()
            attrs[a[sig[0]].text.strip("`\"")] = (atype, default)
        ine = _re.search(r"(?i)IF\s+NOT\s+EXISTS", sql)
        if name in sess.dictionaries and ine:
            return
        sess.dictionaries[name] = DictionarySpec(
            name=name, source=source, key=key, attrs=attrs
        )

    def _attr_default(self, spec: DictionarySpec, attr: str) -> str:
        ch_type, default = spec.attrs.get(attr, ("String", None))
        if default is not None:
            return default
        from .dialect.types import ch_type_to_spark

        try:
            from pyspark.sql import types as _T

            dt = ch_type_to_spark(ch_type)
            if isinstance(dt, _T.StringType):
                return "''"
            if isinstance(dt, _T.DateType):
                return "DATE'1970-01-01'"
            if isinstance(dt, _T.TimestampType):
                return "TIMESTAMP'1970-01-01 00:00:00'"
            return f"CAST(0 AS {dt.simpleString()})"
        except Exception:  # noqa: BLE001
            return "NULL"

    def _expand_dict_functions(self, sess: UserSession, sql: str) -> str:
        """dictGet family → correlated scalar subquery over the source
        table (Catalyst: RewriteCorrelatedScalarSubquery → left join,
        broadcast for dictionary-sized sources)."""
        toks = tokenize(sql)
        out: list[str] = []
        i = 0
        n = len(toks)
        while i < n:
            t = toks[i]
            low = t.text.lower() if t.kind == "ident" else ""
            if low.startswith(("dictget", "dicthas")):
                j = i + 1
                while j < n and toks[j].kind in ("ws", "comment"):
                    j += 1
                k = find_close(toks, j) if j < n and toks[j].text == "(" else -1
                if k != -1:
                    expanded = self._dict_call(sess, low, arg_texts(toks[j + 1 : k]))
                    if expanded is not None:
                        out.append(expanded)
                        i = k + 1
                        continue
            out.append(t.text)
            i += 1
        return "".join(out)

    def _dict_call(self, sess: UserSession, fname: str, args: list):
        if not args:
            return None
        dname = args[0].strip().strip("'\"`")
        spec = sess.dictionaries.get(dname)
        if spec is None:
            # not a registered dictionary: leave the call untouched so
            # the normal unknown-function error names it
            return None
        src, key = spec.source, spec.key
        if fname == "dicthas" and len(args) == 2:
            return f"((SELECT count(*) FROM {src} WHERE {key} = ({args[1]})) > 0)"
        if len(args) < 3:
            return None
        attr = args[1].strip().strip("'\"")
        lookup = f"(SELECT max({attr}) FROM {src} WHERE {key} = ({args[2]}))"
        if fname == "dictgetornull":
            return lookup
        if fname == "dictgetordefault" and len(args) >= 4:
            return f"coalesce({lookup}, {args[3]})"
        # typed variants: dictGetString / dictGetUInt64 / … → cast
        cast_to = None
        if fname.startswith("dictget") and fname not in ("dictget",):
            ch_t = fname[len("dictget") :]
            if ch_t.endswith("ordefault"):
                ch_t = ch_t[: -len("ordefault")]
            try:
                from .dialect.types import ch_type_to_spark as _c2s

                cast_to = _c2s(ch_t).simpleString()
            except Exception:  # noqa: BLE001
                cast_to = None
        body = f"coalesce({lookup}, {self._attr_default(spec, attr)})"
        if fname.endswith("ordefault") and len(args) >= 4:
            body = f"coalesce({lookup}, {args[3]})"
        if cast_to:
            return f"CAST({body} AS {cast_to})"
        return body

    def _run_ddl(self, sess: UserSession, sql: str) -> None:
        self._order_by_cache.clear()  # DDL may change table properties
        self._tables_cache.clear()  # table set may change
        self._dbs_ensured.clear()  # DROP DATABASE invalidates
        self._invalidate_plans()
        up = sql.lstrip().upper()
        if up.startswith(("CREATE DICTIONARY", "CREATE OR REPLACE DICTIONARY")) or (
            up.startswith("CREATE") and " DICTIONARY " in up.split("(", 1)[0]
        ):
            self._create_dictionary(sess, sql)
            return
        parsed = parse_ddl(sql)
        with self._lock:
            if isinstance(parsed, CreateDatabase):
                self._ensure_db(sess.spark_db(parsed.database))
                return
            if isinstance(parsed, DropObject):
                ie = "IF EXISTS " if parsed.if_exists else ""
                if parsed.what == "DICTIONARY":
                    name = ".".join(filter(None, (parsed.database, parsed.name)))
                    if sess.dictionaries.pop(name, None) is None and not parsed.if_exists:
                        raise EngineError(f"Dictionary {name} does not exist", 36)
                elif parsed.what == "DATABASE":
                    self.spark.sql(
                        f"DROP DATABASE {ie}`{sess.spark_db(parsed.name)}` CASCADE"
                    )
                else:
                    qual = sess.spark_table(parsed.database, parsed.name)
                    # CH accepts DROP TABLE and DROP VIEW interchangeably
                    # for views/MVs; Spark does not — try both shapes
                    try:
                        self.spark.sql(f"DROP {parsed.what} {ie}{qual}")
                    except Exception:
                        other = "VIEW" if parsed.what == "TABLE" else "TABLE"
                        self.spark.sql(f"DROP {other} {ie}{qual}")
                    self._mv_forget(sess.ns, qual)
                    if parsed.database is None:
                        sess.temp_tables.discard(parsed.name.lower())
                return
            if isinstance(parsed, CreateView):
                self._run_create_view(sess, parsed)
                return
            if isinstance(parsed, AttachDetach):
                # DETACH hides the table under a reserved name (data
                # kept); ATTACH restores it — the observable CH
                # contract for the metadata-level pair
                tbl = sess.spark_table(parsed.database, parsed.name)
                hidden = sess.spark_table(parsed.database, f"__detached__{parsed.name}")
                src, dst = (tbl, hidden) if parsed.action == "detach" else (hidden, tbl)
                if parsed.if_exists and not self.spark.catalog.tableExists(src):
                    return
                try:
                    self.spark.sql(f"ALTER TABLE {src} RENAME TO {dst}")
                except Exception as e:
                    raise EngineError(_clean_spark_error(e), 60) from e
                return
            if isinstance(parsed, NoopDDL):
                return  # accepted-and-ignored (indexes/TTL, see ddl.py)
            if isinstance(parsed, CreateTable):
                self._create_table(sess, parsed)
                return
            if isinstance(parsed, TruncateTable):
                tbl = sess.spark_table(parsed.database, parsed.name)
                if parsed.if_exists and not self.spark.catalog.tableExists(tbl):
                    return
                self._sql_or_raise(f"TRUNCATE TABLE {tbl}")
                return
            if isinstance(parsed, RenameTables):
                for db_f, n_f, db_t, n_t in parsed.pairs:
                    src = sess.spark_table(db_f, n_f)
                    dst = sess.spark_table(db_t, n_t)
                    self._sql_or_raise(f"ALTER TABLE {src} RENAME TO {dst}")
                self._mv_registry.pop(sess.ns, None)
                self._mv_scanned.discard(sess.ns)
                return
            if isinstance(parsed, AlterMutation):
                self._run_mutation(sess, parsed)
                return
            if isinstance(parsed, AlterColumn):
                self._run_alter_column(sess, parsed)
                return
            if isinstance(parsed, OptimizeTable):
                self._run_optimize(sess, parsed)
                return
            # anything else (unrecognized ALTER forms, ...) → Spark SQL as-is
            self._in_user_db(sess)
            try:
                self.spark.sql(sql)
            except Exception as e:
                raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e

    def _create_table(self, sess: UserSession, ct: CreateTable) -> None:
        tbl = sess.spark_table(ct.database, ct.table, temporary=ct.temporary)
        self._ensure_db(_split_table(tbl)[0])
        # CREATE OR REPLACE over an existing table swaps ATOMICALLY:
        # build the new table (including the CTAS payload, which may
        # legitimately read the OLD table) under a staging name, and
        # only after the write succeeds drop + rename. Dropping first
        # destroyed the old data on any select/write failure
        # (ADVICE r4 — CH's REPLACE preserves the table on failure).
        replace_target: Optional[str] = None
        if ct.or_replace and self.spark.catalog.tableExists(tbl):
            replace_target = tbl
            tbl = f"{tbl[:-1]}__moospark_replace`"
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # CTAS: run the CH-dialect select first — without a declared
        # column list its schema IS the table schema
        src_df = None
        if ct.as_select:
            from .dialect.translate import translate_select

            # _run_select expects translated Spark SQL (the dispatch
            # path translates before it; CTAS text is still CH dialect)
            src_df = self._run_select(
                sess, translate_select(ct.as_select).spark_sql
            )
            if not ct.columns:
                from .dialect.ddl import ColumnDef
                from .dialect.types import spark_type_to_ch

                ct.columns = [
                    ColumnDef(
                        name=f.name,
                        ch_type=spark_type_to_ch(f.dataType, f.nullable),
                        spark_type=f.dataType,
                        nullable=f.nullable,
                    )
                    for f in src_df.schema.fields
                ]
        ine = "IF NOT EXISTS " if ct.if_not_exists else ""

        def colspec(c):
            # CH DEFAULT maps onto Spark's native column DEFAULT
            # (applies on every insert path, including the DEFAULT
            # keyword in VALUES); Spark requires a foldable expression
            # — the non-constant case falls back below.
            if c.default_kind == "DEFAULT" and c.default_expr:
                try:
                    return (
                        f"`{c.name}` {c.spark_type.simpleString()} "
                        f"DEFAULT {self._translate_expr(c.default_expr)}"
                    )
                except Exception:
                    pass
            return f"`{c.name}` {c.spark_type.simpleString()}"

        cols = ", ".join(colspec(c) for c in ct.columns)
        props = []
        if ct.engine:
            props.append(f"'moospark.engine' = '{ct.engine}'")
        if ct.engine_args:
            props.append(f"'moospark.engine_args' = '{_esc(ct.engine_args)}'")
        if ct.columns:
            # declared CH types (UUID/Enum/LowCardinality/...) survive
            # the Spark-schema round trip for SHOW CREATE TABLE
            import json as _json

            decl = _json.dumps([[c.name, c.ch_type] for c in ct.columns])
            props.append(f"'moospark.ch_types' = '{_esc(decl)}'")
        if any(c.default_kind for c in ct.columns):
            import json as _json

            dflts = _json.dumps(
                [
                    [c.name, c.default_kind, c.default_expr or ""]
                    for c in ct.columns
                    if c.default_kind
                ]
            )
            props.append(f"'moospark.col_defaults' = '{_esc(dflts)}'")
        if ct.order_by:
            props.append(f"'moospark.order_by' = '{_esc(ct.order_by)}'")
        if ct.partition_by:
            props.append(f"'moospark.partition_by' = '{_esc(ct.partition_by)}'")
        stmt = f"CREATE TABLE {ine}{tbl} ({cols}) USING PARQUET"
        if props:
            stmt += " TBLPROPERTIES (" + ", ".join(props) + ")"
        try:
            self.spark.sql(stmt)
        except Exception as e:
            if " DEFAULT " in cols:
                # non-foldable CH default (references other columns):
                # Spark rejects it — create without, keep the metadata
                plain = ", ".join(
                    f"`{c.name}` {c.spark_type.simpleString()}" for c in ct.columns
                )
                stmt2 = f"CREATE TABLE {ine}{tbl} ({plain}) USING PARQUET"
                if props:
                    stmt2 += " TBLPROPERTIES (" + ", ".join(props) + ")"
                try:
                    self.spark.sql(stmt2)
                except Exception as e2:
                    raise EngineError(
                        _clean_spark_error(e2), _ch_error_code(str(e2))
                    ) from e2
            else:
                raise EngineError(
                    _clean_spark_error(e), _ch_error_code(str(e))
                ) from e
        if ct.temporary:
            # only now: a failed create must not leave a name that
            # shadows a regular table of the same name
            sess.temp_tables.add(ct.table.lower())
        if src_df is not None:
            # declared columns take the SELECT's columns by position
            names = [c.name for c in ct.columns]
            try:
                if len(src_df.columns) != len(names):
                    raise EngineError(
                        f"CREATE TABLE … AS SELECT column count mismatch: "
                        f"{len(src_df.columns)} vs {len(names)}", 20
                    )
                self._append(sess, tbl, src_df.toDF(*names), names)
            except Exception as e:
                if replace_target is not None:
                    # failed REPLACE payload: discard staging, keep
                    # the original table untouched
                    try:
                        self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
                    except Exception:  # noqa: BLE001
                        pass
                if isinstance(e, EngineError):
                    raise
                raise EngineError(
                    _clean_spark_error(e), _ch_error_code(str(e))
                ) from e
        if replace_target is not None:
            # the swap: old table survives any failure above; a crash
            # between DROP and RENAME loses only atomicity of the
            # visible name, never the new payload
            self._sql_or_raise(f"DROP TABLE {replace_target}")
            self._sql_or_raise(f"ALTER TABLE {tbl} RENAME TO {replace_target}")


    # -------------------------------------------------- ORDER BY WITH FILL

    def _apply_with_fill(self, df: DataFrame, spec: dict):
        """CH ``ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]``:
        materialize the missing axis values and left-join the result,
        defaulting non-fill columns the way CH does (0 / '' / NULL).
        The axis is generated with F.sequence (JVM-side, exploded) —
        one extra broadcast-sized side, no driver row loop. Supports
        numeric, date, and timestamp fill columns."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        col = spec["col"]
        if col not in df.columns:
            return df
        dt = df.schema[col].dataType
        bounds = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
        lo = spec["from"] if spec["from"] is not None else bounds["lo"]
        hi = spec["to"] if spec["to"] is not None else bounds["hi"]
        if lo is None or hi is None:  # empty input
            return df
        step_txt = spec["step"] or "1"
        if isinstance(dt, (T.DateType, T.TimestampType)):
            # CH STEP is seconds for DateTime, days for Date
            unit = "days" if isinstance(dt, T.DateType) else "seconds"
            step = F.expr(f"make_interval(0, 0, 0, {step_txt})") if unit == "days" else F.expr(
                f"make_interval(0, 0, 0, 0, 0, 0, {step_txt})"
            )
            lo_c = F.lit(lo).cast(dt) if not isinstance(lo, str) else F.lit(lo.strip("'")).cast(dt)
            hi_c = F.lit(hi).cast(dt) if not isinstance(hi, str) else F.lit(hi.strip("'")).cast(dt)
            axis = self.spark.range(1).select(
                F.explode(F.sequence(lo_c, hi_c, step)).alias(col)
            )
        else:
            lo_c = F.lit(lo).cast("double") if isinstance(lo, str) else F.lit(lo)
            hi_c = F.lit(hi).cast("double") if isinstance(hi, str) else F.lit(hi)
            axis = (
                self.spark.range(1)
                .select(
                    F.explode(
                        F.sequence(
                            lo_c.cast("long") if isinstance(dt, T.IntegralType) else lo_c,
                            hi_c.cast("long") if isinstance(dt, T.IntegralType) else hi_c,
                            F.expr(step_txt).cast(
                                "long" if isinstance(dt, T.IntegralType) else "double"
                            ),
                        )
                    ).alias(col)
                )
                .select(F.col(f"`{col}`").cast(dt).alias(col))
            )
        if spec["to"] is not None:
            # CH: TO is exclusive — trim the generated axis, keeping
            # any real data rows at/beyond it via the union below
            if isinstance(dt, (T.DateType, T.TimestampType)):
                axis = axis.filter(F.col(f"`{col}`") < hi_c)
            else:
                axis = axis.filter(F.col(f"`{col}`") < hi_c.cast(dt))
            axis = axis.unionByName(df.select(F.col(f"`{col}`"))).distinct()
        interp = dict(spec.get("interpolate") or [])
        df_in = df.withColumn("__ch_real", F.lit(1)) if interp else df
        filled = axis.join(df_in, on=col, how="left")
        if interp:
            # INTERPOLATE (c [AS expr]): filled rows derive c from the
            # previous row instead of defaulting. Group every filled
            # row with the real row preceding it (running count of
            # real markers), then value = expr applied `offset` times
            # to the real row's value (bare c = carry-forward). The
            # global window is fine here: WITH FILL shapes a final,
            # presentation-sized result set (CH applies it at the same
            # post-aggregation point), not a table-scale transform.
            from pyspark.sql import Window

            w_run = Window.orderBy(col).rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            filled = filled.withColumn("__ch_grp", F.count("__ch_real").over(w_run))
            w_grp = Window.partitionBy("__ch_grp").orderBy(col)
            filled = filled.withColumn("__ch_off", F.row_number().over(w_grp) - 1)
            w_base = w_grp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cols = []
        for f in df.schema.fields:
            if f.name == col:
                cols.append(F.col(f"`{col}`"))
            elif f.name in interp:
                base = F.first(F.col(f"`{f.name}`"), ignorenulls=True).over(w_base)
                expr_txt = interp[f.name]
                dt_sql = f.dataType.simpleString()
                if expr_txt is None:
                    stepped = base
                else:
                    acc_expr = self._translate_expr(
                        self._substitute_ident(expr_txt, f.name, "__ch_acc__")
                    ).replace("__ch_acc__", "acc")
                    filled = filled.withColumn(f"__ch_base_{f.name}", base)
                    stepped = F.expr(
                        f"aggregate(sequence(1, __ch_off), "
                        f"CAST(`__ch_base_{f.name}` AS {dt_sql}), "
                        f"(acc, i) -> CAST({acc_expr} AS {dt_sql}))"
                    )
                    base = F.col(f"`__ch_base_{f.name}`")
                val = (
                    F.when(F.col("__ch_real").isNotNull(), F.col(f"`{f.name}`"))
                    .when(base.isNotNull(), stepped)
                    .otherwise(
                        F.lit(0).cast(f.dataType)
                        if isinstance(f.dataType, T.NumericType)
                        else (F.lit("") if isinstance(f.dataType, T.StringType) else F.lit(None))
                    )
                )
                cols.append(val.alias(f.name))
            elif isinstance(f.dataType, T.NumericType):
                cols.append(
                    F.coalesce(F.col(f"`{f.name}`"), F.lit(0).cast(f.dataType)).alias(f.name)
                )
            elif isinstance(f.dataType, T.StringType):
                cols.append(F.coalesce(F.col(f"`{f.name}`"), F.lit("")).alias(f.name))
            else:
                cols.append(F.col(f"`{f.name}`"))
        return filled.select(*cols).orderBy(col)

    @staticmethod
    def _substitute_ident(expr: str, name: str, repl: str) -> str:
        """Replace bare identifier ``name`` in a CH expression with
        ``repl``, skipping function-call names and quoted strings."""
        toks = [t for t in tokenize(expr)]
        sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
        for si, i in enumerate(sig):
            t = toks[i]
            if t.kind not in ("ident", "bquote") or t.text.strip("`") != name:
                continue
            nxt = toks[sig[si + 1]].text if si + 1 < len(sig) else ""
            if nxt.startswith("("):
                continue  # function call, not a column ref
            t.text = repl
        return "".join(t.text for t in toks)

    # --------------------------------------------------- SHOW statements

    def _run_show(self, sess: UserSession, sql: str):
        """CH-shaped SHOW DATABASES / TABLES / CREATE TABLE. Returns
        None for other SHOW forms (Spark passthrough). Spark's own
        output would leak the internal ``u<hash>__`` namespaces and
        other credentials' databases (reference parity: each session
        sees only its own catalog, main.py:140-173)."""
        from pyspark.sql import functions as F

        from .system_tables import system_databases, system_tables

        toks = [t for t in tokenize(sql) if t.kind not in ("ws", "comment")]
        if not toks:
            return None
        head = toks[0].text.upper()
        if head in ("DESCRIBE", "DESC"):
            # CH DESCRIBE shape (7 columns, declared CH types) for the
            # plain `DESCRIBE [TABLE] ref` form; anything more complex
            # (subqueries) falls through to Spark's DESCRIBE.
            j = 1
            if len(toks) > 1 and toks[1].text.upper() == "TABLE":
                j = 2
            ref = "".join(t.text for t in toks[j:]).strip()
            if ref and all(
                t.kind in ("ident", "bquote") or t.text == "."
                for t in toks[j:]
            ):
                low = ref.replace("`", "").lower()
                if low.startswith("system."):
                    # virtual system.* tables aren't cataloged:
                    # materialize the provider snapshot and describe
                    # its schema (CH types via the same round trip)
                    view = _materialize_system(
                        self.spark, sess.ns, low.split(".", 1)[1],
                        sess, engine=self,
                    )
                    if view is None:
                        raise EngineError(
                            f"Table {ref} does not exist", 60
                        )
                    try:
                        from .dialect.types import spark_type_to_ch

                        schema = self.spark.table(view).schema
                        return local_df(
                            self.spark,
                            [
                                (f.name, spark_type_to_ch(f.dataType),
                                 "", "", "", "", "")
                                for f in schema.fields
                            ],
                            "name string, type string, default_type string, "
                            "default_expression string, comment string, "
                            "codec_expression string, ttl_expression string",
                        )
                    finally:
                        try:
                            self.spark.catalog.dropTempView(view)
                        except Exception:  # noqa: BLE001
                            pass
                names, ch_types, dflts = self._declared_columns(
                    sess.spark_table(*split_ref(ref))
                )
                return local_df(
                    self.spark,
                    [
                        (n, t, *dflts.get(n, ("", "")), "", "", "")
                        for n, t in zip(names, ch_types)
                    ],
                    "name string, type string, default_type string, "
                    "default_expression string, comment string, "
                    "codec_expression string, ttl_expression string",
                )
            return None
        if head != "SHOW":
            return None
        second = toks[1].text.upper() if len(toks) > 1 else ""
        if second == "PROCESSLIST":
            # synchronous engine: no long-running query registry
            return self.spark.createDataFrame(
                [],
                "query_id string, user string, query string, elapsed double",
            )
        if second == "DATABASES":
            return system_databases(self.spark, sess.ns).orderBy("name")
        if second == "TABLES":
            db = sess.current_db
            if len(toks) > 3 and toks[2].text.upper() in ("FROM", "IN"):
                db = toks[3].text.strip("`")
            return (
                system_tables(self.spark, sess.ns)
                .filter(F.col("database") == db)
                .select("name")
                .orderBy("name")
            )
        if second == "CREATE" and len(toks) > 2 and toks[2].text.upper() == "TABLE":
            ref = "".join(t.text for t in toks[3:])
            return self._show_create(sess, ref)
        return None

    def _declared_columns(self, tbl: str) -> tuple[list[str], list[str], dict]:
        """Columns of a resolved table as DESCRIBE and SHOW CREATE report
        them: names, CH types and ``{name: (default kind, expr)}``. The
        schema is the source of truth for the column LIST (ALTERs may
        have changed it); the declared CH types (``moospark.ch_types``:
        UUID, Enum, LowCardinality, …) win over the Spark-type round
        trip per column."""
        import json as _json

        names, ch_types = self._ch_columns(tbl)
        props = self._table_moospark_props(tbl)
        try:
            decl = dict(_json.loads(props.get("ch_types") or "[]"))
            ch_types = [decl.get(n, t) for n, t in zip(names, ch_types)]
        except Exception:
            pass
        try:
            raw = _json.loads(props.get("col_defaults") or "[]")
            dflts = {n: (k, e) for n, k, e in raw}
        except Exception:
            dflts = {}
        return names, ch_types, dflts

    def _show_create(self, sess: UserSession, table_ref: str):
        """Reconstruct CH-style DDL from the schema + moospark.*
        properties (column `statement`, as ClickHouse returns it)."""
        tbl = sess.spark_table(*split_ref(table_ref))
        names, ch_types, dflts = self._declared_columns(tbl)
        props = self._table_moospark_props(tbl)
        visible = table_ref.strip().strip("`")

        def _colline(n, t):
            line = f"    `{n}` {t}"
            if n in dflts:
                k, e = dflts[n]
                line += f" {k} {e}" if e else f" {k}"
            return line

        cols = ",\n".join(_colline(n, t) for n, t in zip(names, ch_types))
        stmt = f"CREATE TABLE {visible}\n(\n{cols}\n)\nENGINE = " + props.get(
            "engine", "MergeTree"
        )
        if props.get("engine_args"):
            stmt += f"({props['engine_args']})"
        if props.get("partition_by"):
            stmt += f"\nPARTITION BY {props['partition_by']}"
        if props.get("order_by"):
            stmt += f"\nORDER BY {props['order_by']}"
        return self.spark.createDataFrame([(stmt,)], "statement string")

    # ------------------------------------------- inline-data INSERT (HTTP)

    def _insert_formatted(
        self,
        sess: UserSession,
        table_ref: str,
        col_list: list[str],
        fmt_name: str,
        payload: str,
        settings: Optional[dict] = None,
    ) -> None:
        """``INSERT INTO t [(cols)] FORMAT <X>`` with the data inline
        after the statement — the standard ClickHouse HTTP ingestion
        path (the reference hands the combined string to chDB,
        main.py:190; we parse the block and run a distributed write).
        Formats: TSV/TabSeparated(WithNames), CSV(WithNames),
        JSONEachRow, Values."""
        fmt = fmt_name.upper()
        if fmt == "VALUES":
            cols = f" ({', '.join(col_list)})" if col_list else ""
            self._run_insert(sess, f"INSERT INTO {table_ref}{cols} VALUES {payload}")
            return
        names = col_list or self._ch_columns(sess.spark_table(*split_ref(table_ref)))[0]
        rows: list[tuple]
        if fmt in ("TSV", "TABSEPARATED", "TSVRAW", "TABSEPARATEDRAW",
                   "TSVWITHNAMES", "TABSEPARATEDWITHNAMES"):
            lines = [ln for ln in payload.split("\n") if ln != ""]
            if fmt.endswith("WITHNAMES") and lines:
                names = lines[0].split("\t")
                lines = lines[1:]
            raw = "RAW" in fmt
            rows = [
                tuple(_tsv_field(v, raw) for v in ln.split("\t")) for ln in lines
            ]
        elif fmt in ("CSV", "CSVWITHNAMES"):
            import csv
            import io

            rdr = list(csv.reader(io.StringIO(payload)))
            rdr = [r for r in rdr if r]
            if fmt.endswith("WITHNAMES") and rdr:
                names = rdr[0]
                rdr = rdr[1:]
            rows = [tuple(None if v == "\\N" else v for v in r) for r in rdr]
        elif fmt in ("JSONEACHROW", "JSONLINES", "NDJSON"):
            import json as _json

            dicts = [
                _json.loads(ln) for ln in payload.split("\n") if ln.strip()
            ]
            names = [n for n in names if any(n in d for d in dicts)] or names
            rows = [tuple(d.get(n) for n in names) for d in dicts]
        elif fmt in ("JSONCOMPACTEACHROW", "JSONCOMPACTSTRINGSEACHROW"):
            import json as _json

            rows = [
                tuple(_json.loads(ln))
                for ln in payload.split("\n")
                if ln.strip()
            ]
        elif fmt == "JSONOBJECTEACHROW":
            import json as _json

            doc = _json.loads(payload)
            dicts = list(doc.values())
            names = [n for n in names if any(n in d for d in dicts)] or names
            rows = [tuple(d.get(n) for n in names) for d in dicts]
        elif fmt == "TSKV":
            rows = []
            for ln in payload.split("\n"):
                if not ln.strip():
                    continue
                kv = dict(
                    f.split("=", 1) for f in ln.split("\t") if "=" in f
                )
                rows.append(
                    tuple(
                        _tsv_field(kv[n], False) if n in kv else None
                        for n in names
                    )
                )
        elif fmt == "LINEASSTRING":
            # whole line → the single (String) column, no escaping
            rows = [(ln,) for ln in payload.split("\n") if ln != ""]
            names = names[:1]
        elif fmt == "AVRO":
            # binary payload: the HTTP layer decodes the request body
            # with surrogateescape, so encoding the same way recovers
            # the original bytes losslessly
            from .formats.avro import read_ocf

            raw = payload.encode("utf-8", "surrogateescape")
            avro_names, rows = read_ocf(raw)
            if avro_names and avro_names != ["value"]:
                names = [n for n in avro_names if n in names] or avro_names
        elif fmt in _SCHEMA_FILE_FORMATS:
            # schema-file formats: CH's format_schema='file:Message'
            # resolved inside the server's format_schema_path
            fs = (settings or {}).get("format_schema")
            if not fs:
                raise EngineError(
                    f"INSERT FORMAT {fmt_name} requires SETTINGS "
                    "format_schema='file:Message'", 36
                )
            if not self.format_schema_dir:
                raise EngineError(
                    "format_schema_path is not configured on this server", 36
                )
            from .formats import capnp, protobuf

            if fmt == "CAPNPROTO":
                resolve, decode = capnp.resolve_schema, capnp.decode_rows
            else:
                resolve = protobuf.resolve_schema
                decode = functools.partial(
                    protobuf.decode_rows, mode=_SCHEMA_FILE_FORMATS[fmt]
                )
            try:
                fields, _msg = resolve(str(fs), self.format_schema_dir)
                raw = payload.encode("utf-8", "surrogateescape")
                msg_names, rows = decode(fields, raw)
            except (ValueError, IndexError, OSError, _struct.error) as e:
                raise EngineError(str(e), 36) from e
            # match message fields to table columns case-insensitively
            lower_map = {n.lower(): n for n in names}
            keep = [i for i, p in enumerate(msg_names) if p.lower() in lower_map]
            if keep:
                names = [lower_map[msg_names[i].lower()] for i in keep]
                rows = [tuple(r[i] for i in keep) for r in rows]
            else:
                names = msg_names
        else:
            raise EngineError(f"Unsupported INSERT format: {fmt_name}", 73)
        if not rows:
            return
        # text formats arrive as strings; declare String sources and let
        # _append cast to the column types (LEGACY store assignment);
        # JSONEachRow, Avro and the schema-file formats carry typed values
        src_types = (
            None
            if fmt in ("JSONEACHROW", "AVRO") or fmt in _SCHEMA_FILE_FORMATS
            else ["Nullable(String)"] * len(names)
        )
        self._insert_rows(sess, table_ref, list(names), rows, src_types)

    # ------------------------------------------------- mutations (CH ALTER)

    def _sql_or_raise(self, sql: str):
        try:
            return self.spark.sql(sql)
        except EngineError:
            raise
        except Exception as e:
            raise EngineError(_clean_spark_error(e), _ch_error_code(str(e))) from e

    def _run_exists(self, sess: UserSession, table_ref: str):
        """``EXISTS TABLE t`` → one row, `result` UInt8 (CH shape)."""
        from pyspark.sql import functions as F

        db, name = split_ref(table_ref)
        if db and db.lower() == "system":
            # virtual system.* tables exist if a provider serves them
            # (they are materialized per statement, never cataloged)
            from .system_tables import PROVIDERS

            v = 1 if name.lower() in PROVIDERS else 0
            return self.spark.range(1).select(
                F.lit(v).cast("smallint").alias("result")
            )
        with self._lock:
            v = 1 if self.spark.catalog.tableExists(sess.spark_table(db, name)) else 0
        return self.spark.range(1).select(F.lit(v).cast("smallint").alias("result"))

    def _run_check(self, sess: UserSession, table_ref: str):
        """``CHECK TABLE t`` → one row, `result` UInt8. Parquet-backed
        tables have no CH part checksums; a successful schema
        resolution + zero-row read is the integrity statement this
        storage offers (missing table errors, as CH does)."""
        from pyspark.sql import functions as F

        tbl = sess.spark_table(*split_ref(table_ref))
        self._sql_or_raise(f"SELECT * FROM {tbl} LIMIT 0").collect()
        return self.spark.range(1).select(
            F.lit(1).cast("smallint").alias("result")
        )

    def _translate_expr(self, expr: str) -> str:
        """CH-dialect scalar expression → Spark SQL expression text."""
        from .dialect.translate import translate_select

        return translate_select(f"SELECT {expr}").spark_sql[len("SELECT "):]

    def _swap_rewrite(self, tbl: str, df) -> None:
        """Rewrite the resolved table ``tbl``'s contents atomically-ish
        via stage-and-swap (the Spark analog of a ClickHouse mutation's
        part rewrite: materialize the mutated data, then swap names).
        Preserves moospark.* TBLPROPERTIES and the MergeTree
        sort-on-write; at cluster scale this is one distributed write +
        two catalog ops, no driver-side data movement."""
        stage = f"{tbl[:-1]}__moospark_stage`"
        props = self._table_moospark_props(tbl)
        df = self._sort_for_write(df, props.get("order_by"))
        self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
        df.createOrReplaceTempView("__moospark_mutation_src")
        try:
            self._sql_or_raise(
                f"CREATE TABLE {stage} USING PARQUET AS "
                f"SELECT * FROM __moospark_mutation_src"
            )
            self._sql_or_raise(f"DROP TABLE {tbl}")
            self._sql_or_raise(f"ALTER TABLE {stage} RENAME TO {tbl}")
            if props:
                kv = ", ".join(
                    f"'moospark.{k}' = '{_esc(v)}'" for k, v in props.items()
                )
                self._sql_or_raise(f"ALTER TABLE {tbl} SET TBLPROPERTIES ({kv})")
        finally:
            self.spark.catalog.dropTempView("__moospark_mutation_src")
            self._order_by_cache.clear()

    def _run_mutation(self, sess: UserSession, m: AlterMutation) -> None:
        from pyspark.sql import functions as F

        tbl = sess.spark_table(m.database, m.name)
        src = self._sql_or_raise(f"SELECT * FROM {tbl}")
        cond = F.expr(self._translate_expr(m.where)).cast("boolean")
        if m.action == "delete":
            # CH deletes rows where cond is TRUE; NULL-cond rows stay
            out = src.filter(~F.coalesce(cond, F.lit(False)))
        else:
            assigns = {c: self._translate_expr(e) for c, e in m.assignments}
            unknown = [c for c in assigns if c not in src.columns]
            if unknown:
                raise EngineError(f"Unknown column(s) {unknown} in UPDATE", 47)
            cols = []
            for f in src.schema.fields:
                if f.name in assigns:
                    cols.append(
                        F.when(F.coalesce(cond, F.lit(False)), F.expr(assigns[f.name]))
                        .otherwise(F.col(f"`{f.name}`"))
                        .cast(f.dataType)
                        .alias(f.name)
                    )
                else:
                    cols.append(F.col(f"`{f.name}`"))
            out = src.select(*cols)
        self._swap_rewrite(tbl, out)

    def _run_alter_column(self, sess: UserSession, a: AlterColumn) -> None:
        from pyspark.sql import functions as F

        from .dialect.types import ch_type_to_spark

        tbl = sess.spark_table(a.database, a.name)
        cols = self._sql_or_raise(f"SELECT * FROM {tbl} LIMIT 0").columns
        if a.action == "add":
            if a.column in cols:
                if a.if_clause:
                    return
                raise EngineError(f"Column {a.column} already exists", 44)
            dt = ch_type_to_spark(a.ch_type or "String")
            if a.default is None:
                # metadata-only ADD COLUMNS: existing rows read NULL
                self._sql_or_raise(
                    f"ALTER TABLE {tbl} ADD COLUMNS (`{a.column}` {dt.simpleString()})"
                )
                return
            # DEFAULT backfills existing rows (CH semantics) → rewrite
            src = self._sql_or_raise(f"SELECT * FROM {tbl}")
            out = src.withColumn(
                a.column, F.expr(self._translate_expr(a.default)).cast(dt)
            )
            self._swap_rewrite(tbl, out)
            return
        if a.column not in cols:
            if a.if_clause:
                return
            raise EngineError(f"Unknown column {a.column}", 47)
        src = self._sql_or_raise(f"SELECT * FROM {tbl}")
        if a.action == "modify":
            # CH MODIFY COLUMN c NewType: cast in place via rewrite,
            # recording the new declared type for SHOW CREATE/DESCRIBE
            dt = ch_type_to_spark(a.ch_type or "String")
            out = src.withColumn(a.column, F.col(f"`{a.column}`").cast(dt))
            self._swap_rewrite(tbl, out)
            self._update_declared_type(tbl, a.column, a.ch_type)
            return
        if a.action == "rename":
            out = src.withColumnRenamed(a.column, a.new_name)
            self._swap_rewrite(tbl, out)
            self._update_declared_type(tbl, a.column, None, rename_to=a.new_name)
            return
        if a.action == "comment":
            cmt = (a.comment or "").replace("'", "\\'")
            self._sql_or_raise(
                f"ALTER TABLE {tbl} ALTER COLUMN `{a.column}` COMMENT '{cmt}'"
            )
            return
        if a.action == "clear":
            # CH CLEAR COLUMN resets every row to the type default
            dt = dict(zip(src.columns, [f.dataType for f in src.schema.fields]))[
                a.column
            ]
            tn = dt.simpleString()
            if tn in ("string",):
                dv = F.lit("")
            elif tn.startswith(("array", "map")):
                dv = F.expr(f"CAST(array() AS {tn})") if tn.startswith("array") else F.expr(f"CAST(map() AS {tn})")
            elif tn in ("date",):
                dv = F.lit("1970-01-01").cast("date")
            elif tn.startswith("timestamp"):
                dv = F.lit("1970-01-01 00:00:00").cast(tn)
            else:
                dv = F.lit(0).cast(tn)
            out = src.withColumn(a.column, dv)
            self._swap_rewrite(tbl, out)
            return
        # drop: parquet v1 tables can't drop columns in place → rewrite
        self._swap_rewrite(tbl, src.drop(a.column))

    def _update_declared_type(
        self, tbl: str, column: str, ch_type: Optional[str], rename_to: Optional[str] = None
    ) -> None:
        """Keep the moospark.ch_types declaration in sync with a
        MODIFY/RENAME COLUMN (SHOW CREATE / DESCRIBE read it)."""
        import json as _json

        props = self._table_moospark_props(tbl)
        decl_raw = props.get("ch_types")
        if not decl_raw:
            return
        try:
            decl = _json.loads(decl_raw)
        except Exception:
            return
        out = []
        for n, t in decl:
            if n == column:
                n = rename_to or n
                t = ch_type or t
            out.append([n, t])
        self._sql_or_raise(
            f"ALTER TABLE {tbl} SET TBLPROPERTIES ('moospark.ch_types' = "
            f"'{_esc(_json.dumps(out))}')"
        )
        self._order_by_cache.clear()

    def _run_optimize(self, sess: UserSession, o: OptimizeTable) -> None:
        """OPTIMIZE TABLE ≈ part merge: compact the table to fewer,
        larger, sorted files (row-group pruning stays effective).
        With FINAL on a Replacing* table, the merge also collapses
        key-duplicate rows to the latest version — the CH semantics
        of forcing the Replacing merge to completion."""
        tbl = sess.spark_table(o.database, o.name)
        props = self._table_moospark_props(tbl)
        spec = (
            self._final_partition_order(props)
            if o.final and props.get("engine", "").startswith("Replacing")
            else None
        )
        if spec is not None:
            keys, order = spec
            src = self._sql_or_raise(
                f"SELECT * EXCEPT (__ch_fin) FROM (SELECT *, row_number() "
                f"OVER (PARTITION BY {keys} ORDER BY {order}) AS __ch_fin "
                f"FROM {tbl}) WHERE __ch_fin = 1"
            )
        else:
            src = self._sql_or_raise(f"SELECT * FROM {tbl}")
        n = max(1, self.spark.sparkContext.defaultParallelism // 4)
        self._swap_rewrite(tbl, src.coalesce(n))

    # --------------------------------------------- views / materialized views

    def _qualify_first_from(self, sess: UserSession, body: str) -> tuple[str, Optional[str]]:
        """Fully qualify the first FROM-position table ref of an
        (already db-remapped) SELECT body. Returns (body, qualified_ref
        or None). The MV trigger substitutes this exact text with the
        insert delta."""
        toks = tokenize(body)
        sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
        out = [t.text for t in toks]
        for k, i in enumerate(sig):
            t = toks[i]
            if t.kind == "ident" and t.text.upper() == "FROM" and k + 1 < len(sig):
                j = sig[k + 1]
                if toks[j].text == "(":
                    continue  # subquery — keep scanning for an inner FROM
                if toks[j].kind not in ("ident", "bquote"):
                    continue
                if (
                    k + 3 < len(sig)
                    and toks[sig[k + 2]].text == "."
                    and toks[sig[k + 3]].kind in ("ident", "bquote")
                ):
                    # _remap_databases already wrote the resolved name
                    qual = "".join(toks[x].text for x in (j, sig[k + 2], sig[k + 3]))
                else:
                    qual = sess.spark_table(None, toks[j].text.strip("`"))
                    out[j] = qual
                return "".join(out), qual
        return body, None

    def _run_create_view(self, sess: UserSession, cv: CreateView) -> None:
        name = sess.spark_table(cv.database, cv.name)
        self._ensure_db(_split_table(name)[0])
        self._in_user_db(sess)  # unqualified refs in the body bind here
        body = self._prepare_sql(sess, self._translate_expr_body(cv.select_sql))
        if not cv.materialized:
            head = "CREATE OR REPLACE VIEW" if cv.or_replace else "CREATE VIEW"
            ine = "IF NOT EXISTS " if cv.if_not_exists else ""
            self._sql_or_raise(f"{head} {ine}{name} AS {body}")
            return
        # materialized view: storage table + insert trigger (CH
        # semantics: the SELECT transforms each inserted block into
        # the storage table; POPULATE backfills at creation)
        body, source = self._qualify_first_from(sess, body)
        if source is None:
            raise EngineError("MATERIALIZED VIEW requires a FROM table", 62)
        if cv.to_table:
            storage = sess.spark_table(cv.to_database, cv.to_table)
            if not self.spark.catalog.tableExists(storage):
                raise EngineError(f"TO table {storage} does not exist", 60)
            # the MV name reads from the target (CH TO-form)
            self._sql_or_raise(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {storage}")
        else:
            storage = name
            if self.spark.catalog.tableExists(storage):
                if cv.if_not_exists:
                    return
                raise EngineError(f"Table {storage} already exists", 57)
            where = "" if cv.populate else " WHERE 1 = 0"
            self._sql_or_raise(
                f"CREATE TABLE {storage} USING PARQUET AS "
                f"SELECT * FROM ({body}) __mv_init{where}"
            )
        props = (
            f"'moospark.mv_source' = '{_esc(source)}', "
            f"'moospark.mv_select' = '{_esc(body)}'"
        )
        self._sql_or_raise(f"ALTER TABLE {storage} SET TBLPROPERTIES ({props})")
        self._mv_remember(sess.ns, source, storage, body)

    def _mv_remember(self, ns: str, source: str, storage: str, body: str) -> None:
        reg = self._mv_registry.setdefault(ns, {})
        lst = reg.setdefault(source, [])
        lst[:] = [(s, b) for s, b in lst if s != storage]
        lst.append((storage, body))

    def _mv_forget(self, ns: str, qual: str) -> None:
        reg = self._mv_registry.get(ns)
        if not reg:
            return
        for source in list(reg):
            reg[source] = [(s, b) for s, b in reg[source] if s != qual]
            if not reg[source] or source == qual:
                reg.pop(source, None)

    def _mvs_for(self, sess: UserSession, source_qual: str) -> list[tuple[str, str]]:
        ns = sess.ns
        if ns not in self._mv_scanned:
            self._mv_scanned.add(ns)
            reg = self._mv_registry.setdefault(ns, {})
            try:
                dbs = [
                    d.name
                    for d in self.spark.catalog.listDatabases()
                    if d.name.startswith(f"{ns}__")
                ]
                for d in dbs:
                    for t in self.spark.catalog.listTables(d):
                        if t.tableType not in ("MANAGED", "EXTERNAL"):
                            continue
                        qual = f"`{d}`.`{t.name}`"
                        props = {}
                        try:
                            for r in self.spark.sql(
                                f"SHOW TBLPROPERTIES {qual}"
                            ).collect():
                                props[r["key"]] = r["value"]
                        except Exception:
                            continue
                        src = props.get("moospark.mv_source")
                        sel = props.get("moospark.mv_select")
                        if src and sel:
                            # an MV stored before names were canonical
                            # may spell its source in mixed case
                            canon = src.lower()
                            self._mv_remember(ns, canon, qual, sel.replace(src, canon))
            except Exception:
                pass
        return self._mv_registry.get(ns, {}).get(source_qual, [])

    def _translate_expr_body(self, select_sql: str) -> str:
        """CH-dialect SELECT text → Spark SQL text (no statement split)."""
        from .dialect.translate import translate_select

        return translate_select(select_sql).spark_sql


def _parse_set(stmt: str) -> dict:
    """``SET k = v[, k2 = v2]`` → {k: v} (values unquoted)."""
    toks = [t for t in tokenize(stmt) if t.kind not in ("ws", "comment")]
    out: dict = {}
    i = 1  # skip SET
    while i + 2 < len(toks) + 1 and i + 2 <= len(toks):
        if i + 2 > len(toks) or toks[i + 1].text != "=":
            break
        key = toks[i].text.strip("`")
        val = toks[i + 2].text
        if len(val) >= 2 and val[0] in "'\"" and val[-1] == val[0]:
            val = val[1:-1]
        out[key] = val
        i += 3
        if i < len(toks) and toks[i].text == ",":
            i += 1
    return out


import re as _re

# Where inline data starts. The data block follows a newline, except
# for FORMAT Values, whose rows may follow on the same line
# (clickhouse-client does this); an optional SETTINGS clause (e.g.
# format_schema for Protobuf) may sit between the column list and
# FORMAT, as in CH. The target and columns are read by parse_insert.
_INSERT_DATA_RE = _re.compile(
    r"^\s*INSERT\s+INTO\s+(?:`[^`]+`(?:\s*\.\s*`[^`]+`)?|[\w.]+)\s*"
    r"(?:\([^)]*\)\s*)?"
    r"(?:SETTINGS\s+(?P<settings>[^\n]*?)\s+)?"
    r"FORMAT\s+(?P<fmt>\w+)[ \t]*\n(?P<data>.+)$",
    _re.IGNORECASE | _re.DOTALL,
)

_INSERT_VALUES_INLINE_RE = _re.compile(
    r"^\s*INSERT\s+INTO\s+(?:`[^`]+`(?:\s*\.\s*`[^`]+`)?|[\w.]+)\s*"
    r"(?:\([^)]*\)\s*)?FORMAT\s+Values[ \t]+(?P<data>\(.+)$",
    _re.IGNORECASE | _re.DOTALL,
)

# what an INSERT body runs as a query (_run_insert)
_INSERT_BODY_RE = _re.compile(r"(SELECT|WITH|VALUES)\b", _re.IGNORECASE)

# schema-file INSERT formats → protobuf framing mode (CapnProto has one)
_SCHEMA_FILE_FORMATS = {
    "PROTOBUF": "delimited",
    "PROTOBUFSINGLE": "single",
    "PROTOBUFLIST": "list",
    "CAPNPROTO": None,
}


def _match_insert_data(query: str):
    """Split ``INSERT INTO t [(cols)] FORMAT X\\n<data>`` into (ref,
    columns, format, data, settings); None if the query isn't an
    inline-data insert (e.g. the data block is empty — then it's a
    plain statement)."""
    m = _INSERT_DATA_RE.match(query)
    fmt = m.group("fmt") if m else "Values"
    settings_txt = (m.group("settings") or "") if m else ""
    if not m:
        m = _INSERT_VALUES_INLINE_RE.match(query)
    if not m or not m.group("data").strip():
        return None
    hdr = parse_insert(query)
    if hdr is None:
        return None
    settings = _parse_set(f"SET {settings_txt}") if settings_txt.strip() else {}
    return hdr.ref, hdr.columns, fmt, m.group("data"), settings


def _tsv_field(v: str, raw: bool) -> Optional[str]:
    if v == "\\N" and not raw:
        return None
    if raw or "\\" not in v:
        return v
    return (
        v.replace("\\t", "\t")
        .replace("\\n", "\n")
        .replace("\\r", "\r")
        .replace("\\'", "'")
        .replace("\\\\", "\\")
    )


def _esc(s: str) -> str:
    return s.replace("'", "''")


# Spark error class → ClickHouse error code (public CH ErrorCodes.cpp
# numbering; the reference surfaces chDB's codes the same way via the
# stderr capture, main.py:823-847). Unmatched errors stay 62.
_CH_ERROR_CODES = (
    ("TABLE_OR_VIEW_NOT_FOUND", 60),      # UNKNOWN_TABLE
    ("TABLE_OR_VIEW_ALREADY_EXISTS", 57),  # TABLE_ALREADY_EXISTS
    ("SCHEMA_NOT_FOUND", 81),              # UNKNOWN_DATABASE
    ("SCHEMA_ALREADY_EXISTS", 82),         # DATABASE_ALREADY_EXISTS
    ("UNRESOLVED_COLUMN", 47),             # UNKNOWN_IDENTIFIER
    ("UNRESOLVED_ROUTINE", 46),            # UNKNOWN_FUNCTION
    ("PARSE_SYNTAX_ERROR", 62),            # SYNTAX_ERROR
    ("DIVIDE_BY_ZERO", 153),               # ILLEGAL_DIVISION
    ("CAST_INVALID_INPUT", 6),             # CANNOT_PARSE_TEXT
    ("NUMERIC_VALUE_OUT_OF_RANGE", 69),    # ARGUMENT_OUT_OF_BOUND
    ("WRONG_NUM_ARGS", 42),                # NUMBER_OF_ARGUMENTS_DOESNT_MATCH
    ("DATATYPE_MISMATCH", 43),             # ILLEGAL_TYPE_OF_ARGUMENT
    ("AMBIGUOUS_REFERENCE", 352),          # AMBIGUOUS_IDENTIFIER
    ("USER_RAISED_EXCEPTION", 395),        # FUNCTION_THROW_IF_VALUE_IS_NON_ZERO
)


def _ch_error_code(msg: str) -> int:
    for marker, code in _CH_ERROR_CODES:
        if marker in msg:
            return code
    return 62


def _clean_spark_error(e: Exception) -> str:
    msg = str(e)
    return msg.split("\nJVM stacktrace:")[0].strip()
