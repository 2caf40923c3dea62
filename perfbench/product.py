"""The product-path workload ``ask``, driven through the HTTP routes in
process.

Four sf0.1 tables are uploaded during set-up, then a seeded block of
questions is sent to ``/api/ask_question`` again and again. After the
question blocks, one round of seeded files of every supported format is
uploaded to ``/api/upload``, each followed by one question about it, so
the write path's layers are measured too.

Flask's test client drives ``webapp.create_app``: the real routes, the
real engine, one process, one client waiting on each reply.
"""

from __future__ import annotations

import io
import os
import statistics
import time

import duckdb

import checks
import inputs
from tracer import mean

ASK_SF = 0.1
ROW_CAP = 10_000


def _assert_offline_generator() -> None:
    """Refuse to run unless the program will use its offline generator."""
    from ai_duckdb_spark import nl2sql

    nl2sql.load_env_file()
    gen = nl2sql.default_generator()
    if type(gen) is not nl2sql.StubSqlGenerator:
        raise SystemExit(f"default_generator() returned {type(gen).__name__}; "
                         "unset the online generator's settings to run the benchmark")


def instrument(tracer) -> None:
    """Wrap the product path's public functions where their callers look
    them up."""
    from ai_duckdb_spark import engine, executor, metadata, nl2sql, registry, webapp

    def load_tag(_spark, path):  # the upload's format, as inputs.FORMATS names it
        ext = os.path.splitext(path)[1].lower().lstrip(".")
        if ext == "json":
            with open(path, encoding="utf-8") as fh:
                return "json_array" if fh.read(64).lstrip().startswith("[") else "json_lines"
        return ext

    tracer.wrap(engine, "load_data_from_file", "io.load", tag_of=load_tag)
    tracer.wrap(engine, "profile_dataframe", "profile.profile")
    tracer.wrap(engine, "execute_sql", "executor.execute")
    tracer.wrap(executor, "ensure_select_only", "executor.gate")
    tracer.wrap(registry.TableRegistry, "register", "registry.register")
    tracer.wrap(registry.TableRegistry, "activate", "registry.activate")
    tracer.wrap(nl2sql.StubSqlGenerator, "generate", "nl2sql.generate")
    tracer.wrap(webapp, "format_analysis_result", "formatter.format")
    tracer.wrap(engine.AnalyticsEngine, "analyze_file", "engine.analyze_file")
    tracer.wrap(engine.AnalyticsEngine, "analyze_data_with_ai", "engine.answer")
    for method in ("create_session", "save_file_info", "get_file_detail",
                   "save_chat_record", "get_chat_history"):
        tracer.wrap(metadata.ChatDatabase, method, f"metadata.{method}")


def layers(tracer, answers: list) -> dict[str, float]:
    """Per-layer figures of a traced run: the write path's per traced
    upload, the read path's per traced question."""
    uploads, asks = tracer.roots("webapp.upload"), tracer.roots("webapp.ask")
    up_sums, ask_sums = tracer.self_sums(uploads), tracer.self_sums(asks)

    def per_upload(name):
        return up_sums.get(name, 0.0) / max(1, len(uploads))

    def per_ask(name):
        return ask_sums.get(name, 0.0) / max(1, len(asks))

    def jobs_per(roots, name):
        return sum(s.jobs for s in tracer.select(roots, name)) / max(1, len(roots))

    loads = tracer.select(uploads, "io.load")
    out = {f"io.load_s.{fmt}": mean(s.self_s for s in loads if s.tag == fmt)
           for fmt in inputs.FORMATS}
    out.update({
        "io.load_s": per_upload("io.load"),
        "io.load_jobs": jobs_per(uploads, "io.load"),
        "profile.profile_s": per_upload("profile.profile"),
        "profile.jobs": jobs_per(uploads, "profile.profile"),
        "registry.register_s": per_upload("registry.register"),
        "registry.activate_s": per_ask("registry.activate"),
        "nl2sql.generate_s": per_ask("nl2sql.generate"),
        "executor.gate_s": per_ask("executor.gate"),
        "executor.execute_s": per_ask("executor.execute"),
        "executor.jobs": jobs_per(asks, "executor.execute"),
        "executor.rows_out": mean(op.rows for op in answers),
        "executor.truncated_share": mean(float(op.truncated) for op in answers),
        "formatter.format_s": per_ask("formatter.format"),
        "metadata.save_file_s": per_upload("metadata.save_file_info"),
        "metadata.get_file_s": per_ask("metadata.get_file_detail"),
        "metadata.save_chat_s": per_ask("metadata.save_chat_record"),
        "webapp.upload_self_s": per_upload("webapp.upload"),
        "webapp.ask_self_s": per_ask("webapp.ask"),
        "webapp.upload_s": mean(tracer.spans[i].dur for i in uploads),
        "webapp.ask_s": mean(tracer.spans[i].dur for i in asks),
        "engine.analyze_file_s": per_upload("engine.analyze_file"),
        "engine.answer_s": per_ask("engine.answer"),
    })
    return out


class Op:
    """One request of the measured stream, and what it returned."""

    __slots__ = ("kind", "file", "question", "latency", "jobs", "status", "body", "traced",
                 "rows", "truncated")

    def __init__(self, kind, file, question=None):
        self.kind, self.file, self.question = kind, file, question
        self.latency = self.jobs = self.status = self.body = None
        self.traced = self.truncated = False
        self.rows = 0


class Ask:
    """Seeded question blocks over four uploaded sf0.1 tables, then one
    round of uploads; every request goes through the HTTP routes."""

    instrument = staticmethod(instrument)
    #: Question blocks asked in the warm-up. The first passes over a plan
    #: shape are JIT-cold: block times fall by a fifth over the first
    #: three blocks, then by a few percent a minute.
    warm_blocks = 3
    #: Blocks the window always measures, however slow the host.
    min_blocks = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs_dir = os.path.join(ctx.work, "inputs")
        self.client = None
        self.ops: list[Op] = []          # every request sent, set-up included
        self.files: dict[str, dict] = {}  # file_id -> what the checker needs
        self.block_ops: list[list[Op]] = []
        self.mark = 0
        self._pairs = 0

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        _assert_offline_generator()
        from ai_duckdb_spark.webapp import create_app

        app = create_app(upload_folder=os.path.join(self.ctx.work, "uploads"),
                         db_path=os.path.join(self.ctx.work, "chat.db"))
        self.client = app.test_client()
        tables = inputs.make_tables(ASK_SF)
        paths = inputs.write_tables(self.inputs_dir, tables, names=inputs.ASK_TABLES)
        self.by_table = {}
        for table in inputs.ASK_TABLES:
            f = inputs.UploadFile(paths[table], f"{table}.parquet", "parquet", 0, (), "")
            (op,) = self.upload(f)
            if op.status != 200:
                raise SystemExit(f"set-up upload of {table} failed: HTTP {op.status} {op.body}")
            self.by_table[table] = op.body["file_id"]
        self.block = [(self.by_table[t], q) for t, q in inputs.ask_stream(self.ctx.seed, blocks=1)[0]]
        # one small file of each format to warm the write path, one
        # medium file of each for the measured round
        self.warm_files = inputs.upload_block(self.ctx.seed + 1_000_003,
                                              os.path.join(self.inputs_dir, "warm"),
                                              tables, tag="w", strata=(0,))
        self.round_files = inputs.upload_block(self.ctx.seed, os.path.join(self.inputs_dir, "round"),
                                               tables, strata=(1,))

    def warmup(self) -> None:
        """Upload the warm files and ask the block ``warm_blocks`` times:
        every reader and plan shape is compiled before timing."""
        self.upload_round(self.warm_files, paired=False, ask=False)
        for _ in range(self.warm_blocks):
            self.run_block(paired=False)

    def defect_probe(self) -> str:
        """Ask for whole rows of a file with a timestamp column, outside
        the measured stream, and report what the program answers."""
        resp = self.client.post("/api/ask_question", json={
            "question": "top 5 by l_extendedprice", "file_id": self.by_table["lineitem"]})
        return f"top-N rows of lineitem (has l_shipdate) -> HTTP {resp.status_code}"

    # -- requests ------------------------------------------------------------
    def _send(self, op: Op, traced: bool):
        tracer, jobs = self.ctx.tracer, self.ctx.jobs
        if op.kind == "upload":
            with open(op.file["path"], "rb") as fh:
                payload = fh.read()
            post = lambda: self.client.post(  # noqa: E731
                "/api/upload", data={"file": (io.BytesIO(payload), op.file["name"])},
                content_type="multipart/form-data")
        else:
            body = {"question": op.question, "file_id": op.file["id"]}
            post = lambda: self.client.post("/api/ask_question", json=body)  # noqa: E731
        tracer.enabled = traced
        tracer.request = f"{op.kind}-{len(self.ops)}"
        j0 = jobs()
        t0 = time.perf_counter()
        resp = tracer.call(f"webapp.{op.kind}", post)
        op.latency = time.perf_counter() - t0
        op.jobs = jobs() - j0
        tracer.enabled = False
        op.status, op.body, op.traced = resp.status_code, resp.get_json(silent=True) or {}, traced
        self.ops.append(op)
        return op

    def send(self, op: Op, paired: bool) -> list[Op]:
        """Send ``op``; in a traced run send it twice, traced and not,
        alternating which goes first."""
        if not paired:
            return [self._send(op, False)]
        self._pairs += 1
        first = self._pairs % 2 == 0
        a = self._send(op, first)
        b = self._send(Op(op.kind, op.file, op.question), not first)
        return [a, b]

    def upload(self, f: inputs.UploadFile, paired: bool = False) -> list[Op]:
        meta = {"path": f.path, "name": f.name, "fmt": f.fmt, "rows": f.rows,
                "columns": f.columns, "question": f.question}
        sent = self.send(Op("upload", meta), paired)
        for op in sent:
            if op.status == 200:
                self.files[op.body["file_id"]] = meta
        return sent

    def _ask_op(self, file_id: str, question: str) -> Op:
        return Op("ask", dict(self.files[file_id], id=file_id), question)

    def run_block(self, paired: bool) -> list[Op]:
        """The seeded block once: one session's questions, each
        rescanning its file."""
        start = len(self.ops)
        for file_id, q in self.block:
            self.send(self._ask_op(file_id, q), paired)
        return self.ops[start:]

    def upload_round(self, files, paired: bool, ask: bool = True) -> None:
        """Each file uploaded, then (with ``ask``) one question about it;
        the question is traced when its upload was."""
        for f in files:
            for op in self.upload(f, paired):
                if ask and op.status == 200:
                    self._send(self._ask_op(op.body["file_id"], f.question), op.traced)

    def measure(self, seconds: float, paired: bool) -> None:
        """Whole question blocks, at least ``min_blocks``, then more until
        ``seconds`` have passed; then the upload round."""
        self.mark = len(self.ops)
        t_end = time.perf_counter() + seconds
        while len(self.block_ops) < self.min_blocks or time.perf_counter() < t_end:
            self.block_ops.append(self.run_block(paired))
        self.upload_round(self.round_files, paired)

    # -- results -------------------------------------------------------------
    @property
    def measured(self) -> list[Op]:
        return self.ops[self.mark:]

    def block_asks(self) -> list[Op]:
        return [op for ops in self.block_ops for op in ops]

    def samples(self) -> list[float]:
        """One latency per untraced question of the measured blocks."""
        return [op.latency for op in self.block_asks() if not op.traced]

    def trend(self) -> list[float]:
        """The median untraced question latency of each measured block."""
        return [statistics.median(op.latency for op in ops if not op.traced)
                for ops in self.block_ops]

    def outcome(self):
        """(failures, attempted, (latency, traced) pairs, jobs per request)
        of the run, after checking every request."""
        failures = self.check()
        asks = self.block_asks()
        uploads = [op for op in self.measured if op.kind == "upload"]
        return (failures, len(self.ops), [(op.latency, op.traced) for op in asks],
                {"jobs.question": [op.jobs for op in asks],
                 "jobs.upload": [op.jobs for op in uploads]})

    def layers(self, tracer) -> dict[str, float]:
        return layers(tracer, [op for op in self.measured if op.kind == "ask"])

    # -- checks --------------------------------------------------------------
    def check(self) -> list[str]:
        """Check every request sent; one reason string per failure."""
        failures = []
        self._duck_tables: dict[str, str] = {}
        self._duck_results: dict[str, dict] = {}  # per file: DuckDB's rows per query
        con = duckdb.connect()
        try:
            history = {r["id"]: r for r in self.client.get("/api/chat_history").get_json()["history"]}
            for op in self.ops:
                reason = self._check_op(con, op, history)
                if reason:
                    failures.append(f"{op.kind} {op.file['name']} {op.question or ''}: {reason}")
        finally:
            con.close()
        return failures

    def _check_op(self, con, op: Op, history: dict) -> str | None:
        if op.status != 200:
            return f"HTTP {op.status} {op.body.get('error', '')}"
        f = op.file
        if op.kind == "upload":
            if f["fmt"] == "xlsx":  # DuckDB reads no xlsx; the writer's frame is the truth
                rows, cols = f["rows"], f["columns"]
            else:
                rows, cols = checks.duck_shape(con, f["fmt"], f["path"])
            return checks.check_upload(op.body["data_info"], rows, cols)
        record = history.get(op.body.get("chat_id"))
        if record is None:
            return "answer missing from /api/chat_history"
        op.rows = len(record["result"].get("data", []))
        op.truncated = bool(record["result"].get("truncated"))
        sql = checks.sql_from_markdown(record["markdown_result"] or "")
        if sql is None:
            return "no SQL in the recorded answer"
        table = self._duck_tables.get(f["path"])
        if table is None:  # load each file into DuckDB once
            table = self._duck_tables[f["path"]] = f"file_{len(self._duck_tables)}"
            rel = (f"read_parquet('{f['path']}.parquet')" if f["fmt"] == "xlsx"
                   else checks.duck_relation(f["fmt"], f["path"]))
            con.execute(f"CREATE TABLE {table} AS SELECT * FROM {rel}")
        con.execute(f"CREATE OR REPLACE VIEW data_table AS SELECT * FROM {table}")
        memo = self._duck_results.setdefault(table, {})
        return checks.check_answer(con, sql, record["result"], ROW_CAP, memo)
