"""Deterministic input-table construction (FIXTURES.md F1).

The north-rule input is an Iceberg table of source-code repositories
with columns (repo, path, commit, lang, content) — BASELINE.json
``input_hint``.  Two constructions:

* :func:`source_repos_from_documents` — the SQL-expressible recast of
  the driver's ``documents`` table (FIXTURES.md F1 mapping).  Every
  expression here has an exact DuckDB equivalent, so correctness
  queries can be oracled.
* :func:`synthetic_source_repos` — deterministic at-scale expansion
  built entirely from JVM-side expressions (``xxhash64`` of the row id;
  no ``rand()``, no Python), used by the benchmark.  Zipf-skewed repos
  (repo 0 owns ~30% of rows, a skewed key the range layout splits), 12
  skewed languages, FSST-friendly slash paths, per-language repetitive
  content 64–8k chars.

Everything is a lazy DataFrame; nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = [
    ("python", 35),
    ("javascript", 13),
    ("java", 10),
    ("go", 8),
    ("cpp", 8),
    ("rust", 6),
    ("typescript", 6),
    ("ruby", 4),
    ("php", 3),
    ("c", 3),
    ("scala", 2),
    ("shell", 2),
]

_EXT = {
    "python": "py", "javascript": "js", "java": "java", "go": "go",
    "cpp": "cc", "rust": "rs", "typescript": "ts", "ruby": "rb",
    "php": "php", "c": "c", "scala": "scala", "shell": "sh",
}

_TEMPLATE = {
    "python": "import os\nclass Handler:\n    def process(self, request):\n        value = request.get('key')\n        return value is not None\n",
    "javascript": "const handler = (req) => {\n  const value = req.body.key;\n  return value !== undefined;\n};\nmodule.exports = handler;\n",
    "java": "public class Handler {\n    private final String name;\n    public String process(Request request) {\n        return request.getKey();\n    }\n}\n",
    "go": "package main\n\nfunc process(req *Request) (string, error) {\n\tif req == nil {\n\t\treturn \"\", errNil\n\t}\n\treturn req.Key, nil\n}\n",
    "cpp": "#include <string>\nclass Handler {\n public:\n  std::string Process(const Request& request) {\n    return request.key();\n  }\n};\n",
    "rust": "pub fn process(req: &Request) -> Option<String> {\n    match req.key.as_ref() {\n        Some(k) => Some(k.clone()),\n        None => None,\n    }\n}\n",
    "typescript": "export function process(req: Request): string | null {\n  const value: string = req.key;\n  return value ?? null;\n}\n",
    "ruby": "class Handler\n  def process(request)\n    value = request[:key]\n    value.nil? ? nil : value\n  end\nend\n",
    "php": "<?php\nclass Handler {\n    public function process($request) {\n        return $request->key ?? null;\n    }\n}\n",
    "c": "#include <stdio.h>\nint process(struct request *req) {\n    if (req == NULL) return -1;\n    return req->key;\n}\n",
    "scala": "object Handler {\n  def process(request: Request): Option[String] =\n    Option(request.key).filter(_.nonEmpty)\n}\n",
    "shell": "#!/bin/bash\nset -euo pipefail\nfor f in \"$@\"; do\n  process \"$f\" || exit 1\ndone\n",
}

_VOCAB = [
    "src", "main", "test", "lib", "core", "util", "utils", "common", "internal",
    "api", "server", "client", "service", "services", "handler", "handlers",
    "model", "models", "view", "views", "controller", "controllers", "db",
    "data", "io", "net", "http", "json", "xml", "yaml", "config", "configs",
    "auth", "user", "users", "admin", "base", "abstract", "impl", "spec",
    "tests", "fixtures", "mocks", "helpers", "tools", "scripts", "build",
    "dist", "pkg", "cmd", "app", "apps", "web", "mobile", "desktop", "shared",
    "platform", "runtime", "engine", "parser", "lexer", "compiler", "codegen",
    "optimizer", "planner", "executor", "storage", "cache", "queue", "stream",
    "batch", "worker", "job", "jobs", "task", "tasks", "cron", "log", "logs",
    "metric", "metrics", "trace", "tracing", "monitor", "alert", "event",
    "events", "message", "messages", "proto", "schema", "schemas", "types",
    "errors", "exceptions", "validation", "validator", "format", "formats",
    "encode", "decode", "codec", "codecs", "compress", "crypto", "hash",
    "random", "math", "stats", "graph", "tree", "list", "map", "set", "array",
    "string", "strings", "text", "doc", "docs", "page", "pages", "render",
    "template", "templates", "static", "assets", "images", "media", "upload",
    "download", "sync", "async", "lock", "mutex", "thread", "threads", "pool",
    "conn", "connection", "session", "sessions", "token", "tokens", "key",
    "keys", "secret", "secrets", "cert", "tls", "ssl", "dns", "tcp", "udp",
    "grpc", "rest", "graphql", "ws", "socket", "sockets", "middleware",
    "plugin", "plugins", "extension", "extensions", "module", "modules",
    "package", "packages", "vendor", "third_party", "external", "legacy",
    "v1", "v2", "v3", "alpha", "beta", "stable", "experimental", "feature",
    "features", "flag", "flags", "option", "options", "setting", "settings",
    "env", "local", "remote", "cloud", "aws", "gcp", "azure", "k8s", "docker",
    "deploy", "release", "version", "migrate", "migrations", "seed", "bench",
]
assert len(_VOCAB) >= 200

INPUT_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def _lang_expr(bucket_col):
    """Percentile bucket (0-99) -> language, by the skewed weights."""
    expr = None
    acc = 0
    for lang, w in LANGS:
        acc += w
        cond = bucket_col < acc
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise(LANGS[0][0])


def source_repos_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 mapping of the driver's documents table (SQL-oracle-able).

    DuckDB equivalent (used by oracle_sql):
      SELECT source AS repo, concat('doc/', doc_id, '.txt') AS path,
             substr(sha256(cast(doc_id AS varchar)), 1, 40) AS commit,
             lang, text AS content FROM documents
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 40).alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
    )


def synthetic_source_repos(spark: SparkSession, num_rows: int, parts: int | None = None) -> DataFrame:
    """Deterministic synthetic F1 table of ``num_rows`` rows.

    Pure JVM expressions over ``spark.range`` — scales linearly with
    cores and rows; the same (id -> row) function at any scale.
    """
    parts = parts or spark.sparkContext.defaultParallelism
    df = spark.range(0, num_rows, 1, parts)
    # pmod, not abs: ANSI mode aborts on abs(Long.MIN_VALUE)
    h = lambda k: F.pmod(F.xxhash64(F.col("id") + F.lit(k * 1_000_003)), F.lit(1 << 40))

    # Zipf-ish repos: repo 0 owns ~30%, the rest spread over 199 repos
    repo_idx = F.when(h(1) % 100 < 30, F.lit(0)).otherwise(h(2) % 199 + 1)
    repo = F.concat(F.lit("org"), (repo_idx % 20).cast("string"), F.lit("/repo"), repo_idx.cast("string"))

    lang = _lang_expr(h(3) % 100)
    ext = F.element_at(
        F.create_map(*[F.lit(x) for kv in _EXT.items() for x in kv]), lang
    )
    vocab = F.array(*[F.lit(w) for w in _VOCAB[:200]])
    depth = (h(4) % 8 + 1).cast("int")
    segs = F.array(*[F.element_at(vocab, (h(10 + k) % 200 + 1).cast("int")) for k in range(8)])
    path = F.concat(
        F.concat_ws("/", F.slice(segs, 1, depth)),
        F.lit("/file"), (h(9) % 1000).cast("string"), F.lit("."), ext,
    )

    commit = F.sha1(F.concat(F.lit("commit:"), F.col("id").cast("string")))

    template = F.element_at(
        F.create_map(*[F.lit(x) for kv in _TEMPLATE.items() for x in kv]), lang
    )
    reps = (h(5) % 40 + 1).cast("int")
    content = F.concat(
        F.lit("// id="), F.col("id").cast("string"), F.lit("\n"),
        F.repeat(template, reps),
    )

    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )
