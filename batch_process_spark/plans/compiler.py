"""Rule-config pipeline compiler + lifecycle.

The reference's query lifecycle (SURVEY §3): a YAML/JSON config maps
glob patterns to named processors with per-rule config and priority;
the engine matches rules per path, orders by priority (desc, stable,
duplicates preserved — ``core/engine.py:403-412``), and runs
pre/inline/post phases. Here the config compiles — driver-side — to an
ordered list of DataFrame stages over the file-tree DataFrame:

- "analyze" = resolving each rule to its matched-files frame
  (one ``filter(match_rule(pattern))`` on the shared tree scan);
- execution = applying each stage's operator to its frame, appending a
  structured result record per stage (errors-as-data: a failing
  operator records status=failed and the run continues —
  ``engine.py:519-537``);
- ``simulate()`` = the numbered step plan without execution
  (``engine.py:163-314``), plus ``explain()`` of each stage's frame;
- dir-exit semantics = per-level aggregation stages (SURVEY §4a), not
  an ordered tree walk.

Config grammar (mirrors README.md:184-236 of the reference):

    rules:
      "**/*.txt":
        processors: [count_lines, {name: extract_numbers, config: {...}}]
        pre_processors: [...]
        post_processors: [...]
        priority: 10
    pre_process:  [setup_op, ...]     # global, once before rules
    post_process: [report_op, ...]    # global, once after rules
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame

from batch_process_spark.plans.registry import INLINE, POST, PRE, REGISTRY, Registry
from batch_process_spark.sources.filetree import arrow_frame, match_rule

# one row per stage: the run record ``Pipeline.run`` returns
_RECORD_SCHEMA = pa.schema(
    [("step", pa.int32()), ("phase", pa.string()), ("pattern", pa.string()),
     ("processor", pa.string()), ("status", pa.string()), ("error", pa.string()),
     ("timestamp", pa.string())]
)


def load_config(path: str) -> dict:
    """YAML (preferred) or JSON rule config."""
    text = open(path, encoding="utf-8").read()
    if path.endswith(".json"):
        return json.loads(text)
    try:
        import yaml

        return yaml.safe_load(text)
    except ImportError:
        return json.loads(text)


def _normalize_proc(entry) -> tuple[str, dict]:
    if isinstance(entry, str):
        return entry, {}
    if isinstance(entry, dict):
        return entry["name"], dict(entry.get("config", {}))
    raise ValueError(f"bad processor entry: {entry!r}")


@dataclass
class Stage:
    step: int
    phase: str  # pre | inline | post (rule phases) or global_pre/global_post
    pattern: str | None
    op_name: str
    config: dict
    priority: int = 0

    def describe(self) -> dict:
        return {
            "step": self.step,
            "phase": self.phase,
            "pattern": self.pattern,
            "proc_name": self.op_name,
            "config": self.config,
            "priority": self.priority,
        }


class Pipeline:
    """Compiled pipeline: ordered stages over a file-tree DataFrame."""

    def __init__(self, config: dict, registry: Registry | None = None):
        self.registry = registry or REGISTRY
        self.config = config or {}
        self.stages: list[Stage] = []
        self._compile()

    RESERVED = {"rules", "pre_process", "post_process", "config_pre", "config_post"}

    def _compile(self) -> None:
        step = 0
        for name in self.config.get("pre_process", []) or []:
            op, cfg = _normalize_proc(name)
            cfg = {**(self.config.get("config_pre") or {}), **cfg}
            self.stages.append(Stage(step, "global_pre", None, op, cfg))
            step += 1
        # two accepted shapes: {"rules": {pattern: rule}} or the
        # reference's flat form (pattern keys at top level alongside
        # the reserved pre/post keys)
        rules = self.config.get("rules") or {
            k: v for k, v in self.config.items() if k not in self.RESERVED
        }
        # rule order preserved (dict order); within a phase, stages sort
        # by priority desc STABLY and duplicates are preserved (the
        # reference guarantee: N listings => N executions)
        for phase_key, phase in (
            ("pre_processors", PRE),
            ("processors", INLINE),
            ("post_processors", POST),
        ):
            entries = []
            for pattern, rule in rules.items():
                rule = rule or {}
                prio = int(rule.get("priority", 0))
                rule_cfg = dict(rule.get("config", {}) or {})
                for entry in rule.get(phase_key, []) or []:
                    op, cfg = _normalize_proc(entry)
                    # rule-level config applies to every processor in the
                    # rule; per-processor config overrides it
                    entries.append((prio, pattern, op, {**rule_cfg, **cfg}))
            entries.sort(key=lambda e: -e[0])  # stable: ties keep config order
            for prio, pattern, op, cfg in entries:
                self.stages.append(Stage(step, phase, pattern, op, cfg, prio))
                step += 1
        for name in self.config.get("post_process", []) or []:
            op, cfg = _normalize_proc(name)
            cfg = {**(self.config.get("config_post") or {}), **cfg}
            self.stages.append(Stage(step, "global_post", None, op, cfg))
            step += 1

    # -- plan preview ----------------------------------------------------
    def simulate(
        self,
        tree: DataFrame | None = None,
        max_items: int | None = None,
        pattern_filter: str | None = None,
    ) -> list[dict]:
        """Numbered step plan without execution (optionally with match
        counts against a tree scan)."""
        out = []
        for st in self.stages:
            if pattern_filter and st.pattern != pattern_filter:
                continue
            d = st.describe()
            if tree is not None and st.pattern is not None:
                d["n_matches"] = tree.filter(match_rule(st.pattern)).count()
            out.append(d)
            if max_items is not None and len(out) >= max_items:
                break
        return out

    def explain(self, tree: DataFrame) -> list[tuple[dict, str]]:
        """Per-stage Catalyst plan of the matched-files frame.

        Extended mode (parsed, analysed, optimised, physical): over a
        local relation such as ``file_tree_df``'s listing the optimiser
        evaluates the rule filter on the driver, so only the analysed
        plan still shows it.
        """
        out = []
        for st in self.stages:
            frame = tree if st.pattern is None else tree.filter(match_rule(st.pattern))
            try:
                jvm = frame.sparkSession._jvm
                plan = jvm.PythonSQLUtils.explainString(
                    frame._jdf.queryExecution(), "extended"
                )
            except Exception:
                plan = str(frame._jdf.queryExecution())
            out.append((st.describe(), plan))
        return out

    # -- execution -------------------------------------------------------
    def run(self, tree: DataFrame, eager: bool = False) -> "PipelineResult":
        """Execute all stages; never raises on operator failure.

        Exception: a stage raising ``GateError`` (a failed hard quality
        gate) HALTS the run — the gate stage records failed and every
        later stage records skipped without executing, so sinks can
        never run on data a gate rejected.

        Operators return LAZY DataFrames, so by default a stage's
        ``status`` covers plan construction + Catalyst analysis errors
        only — a runtime failure (bad data, failing UDF) surfaces later
        at the consumer's action, after the history already recorded
        success. ``eager=True`` forces one cheap evaluation per stage
        (a ``noop``-sink write — full plan execution, zero driver
        materialization) so runtime failures land in the run record the
        way the reference's per-step failure records do
        (``engine.py:519-537``), at the cost of executing each stage
        at record time.
        """
        from batch_process_spark.operators.quality import GateError

        spark = tree.sparkSession
        results: list[dict] = []
        outputs: dict[int, DataFrame] = {}
        halted_at: int | None = None
        for st in self.stages:
            rec = {
                "step": st.step,
                "phase": st.phase,
                "pattern": st.pattern,
                "processor": st.op_name,
                "status": "success",
                "error": None,
                "timestamp": time.strftime("%Y-%m-%d %H:%M:%S"),
            }
            if halted_at is not None:
                # a hard gate failed upstream: later stages (sinks
                # included) must NOT run on the bad data — recorded as
                # skipped, not silently dropped from the history
                rec["status"] = "skipped"
                rec["error"] = f"skipped: gate failed at step {halted_at}"
                results.append(rec)
                continue
            try:
                op = self.registry.get(st.op_name)
                frame = tree if st.pattern is None else tree.filter(match_rule(st.pattern))
                out = op(frame, **st.config)
                if eager and isinstance(out, DataFrame):
                    out.write.format("noop").mode("overwrite").save()
                outputs[st.step] = out
            except GateError as exc:
                rec["status"] = "failed"
                rec["error"] = f"{type(exc).__name__}: {exc}"
                halted_at = st.step
            except Exception as exc:
                rec["status"] = "failed"
                rec["error"] = f"{type(exc).__name__}: {exc}"
            results.append(rec)
        results_df = arrow_frame(spark, _RECORD_SCHEMA, [tuple(r.values()) for r in results])
        return PipelineResult(results_df, outputs, self.stages)


@dataclass
class PipelineResult:
    """Execution record (errors-as-data) + per-stage output frames."""

    results: DataFrame
    outputs: dict[int, DataFrame]
    stages: list[Stage]

    def write_history(self, path: str) -> None:
        """Append the run record to the parquet history sink (the
        reference's SQLite history K4, re-expressed as parquet)."""
        self.results.write.mode("append").parquet(path)
