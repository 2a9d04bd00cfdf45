"""LLM-judge quality rule: out-of-band enrichment, then a one-rule suite.

Reference: ``/root/reference/src/datacheck/llm_rules.py`` — an LLM
scores 4 dimensions 1–5 (``llm_rules.py:7-22`` prompt), pass iff
``overall >= min_score`` (default 3); JSON-parse failure falls back to
overall=3 ⇒ pass (``llm_rules.py:60-79``).

Spark design (SURVEY §2.4 op 23): LLM calls are an external-service
enrichment. They run as batched requests inside ``mapInPandas``
partitions (one HTTP session per partition, N samples per call batch),
producing a score column that joins back into the rule frame — NOT a
per-row UDF in the fused pass; :func:`llm_quality_ruleset` reads it as
an INFO rule the engine tallies. Without network/API keys the
deterministic ``mock`` provider scores by simple text heuristics so
the full plumbing is testable.
"""

from __future__ import annotations

import json
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from datacheck_spark.rules.compiler import RuleDef, RuleSet
from datacheck_spark.schema import Severity

JUDGE_PROMPT = """Rate this instruction-response sample on 4 dimensions, 1-5 each:
clarity (instruction is clear), relevance (response addresses it),
completeness (response is thorough), accuracy (response is correct).
Reply with JSON only: {"clarity": n, "relevance": n, "completeness": n,
"accuracy": n, "overall": n}.

Instruction: {instruction}
Response: {response}"""

def _render_judge_prompt(inst, resp) -> str:
    """Concatenate the static template segments around the values —
    each placeholder is substituted exactly once and the inserted data
    is never rescanned, so a response containing the literal
    '{instruction}' (or an instruction containing '{response}') cannot
    corrupt the judge prompt the way chained str.replace did."""
    head, _, rest = JUDGE_PROMPT.partition("{instruction}")
    mid, _, tail = rest.partition("{response}")
    return head + str(inst or "") + mid + str(resp or "") + tail


SCORE_SCHEMA = StructType(
    [
        StructField("__row_id", StringType(), False),
        StructField("clarity", DoubleType(), True),
        StructField("relevance", DoubleType(), True),
        StructField("completeness", DoubleType(), True),
        StructField("accuracy", DoubleType(), True),
        StructField("overall", DoubleType(), True),
    ]
)


def _mock_judge(instruction: str, response: str) -> dict:
    """Deterministic heuristic judge for offline use: length- and
    overlap-based scores in 1..5."""
    instruction = instruction or ""
    response = response or ""
    clarity = 5.0 if len(instruction) >= 10 else 2.0
    completeness = min(5.0, 1.0 + len(response) / 40.0)
    inst_tokens = set(instruction.lower().split())
    resp_tokens = set(response.lower().split())
    overlap = len(inst_tokens & resp_tokens) / len(inst_tokens) if inst_tokens else 0
    relevance = 2.0 + min(3.0, overlap * 6.0)
    accuracy = 3.0  # unknowable offline
    overall = round((clarity + relevance + completeness + accuracy) / 4.0)
    return {
        "clarity": clarity,
        "relevance": relevance,
        "completeness": completeness,
        "accuracy": accuracy,
        "overall": float(overall),
    }


def _parse_judge_json(text: str) -> dict:
    """JSON-failure fallback: overall=3 ⇒ pass (``llm_rules.py:73-79``)."""
    try:
        data = json.loads(text)
        return {
            k: float(data.get(k, 3))
            for k in ("clarity", "relevance", "completeness", "accuracy", "overall")
        }
    except (json.JSONDecodeError, TypeError, ValueError):
        return {
            "clarity": 3.0, "relevance": 3.0, "completeness": 3.0,
            "accuracy": 3.0, "overall": 3.0,
        }


def _http_post_json(url: str, headers: dict, payload: dict, timeout: float = 30.0) -> dict:
    """Stdlib HTTP POST with a JSON body — no SDK dependency, so the
    provider plumbing is testable against a local server speaking the
    public REST shapes."""
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode("utf-8"),
        headers={**headers, "content-type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _call_provider(
    provider: str,
    model: Optional[str],
    prompt: str,
    base_url: Optional[str] = None,
) -> str:
    """Real-provider HTTP call against the PUBLIC REST APIs
    (Anthropic Messages / OpenAI Chat Completions). ``base_url``
    overrides the endpoint (also via ``ANTHROPIC_BASE_URL`` /
    ``OPENAI_BASE_URL``) so tests can point at a local server; auth
    errors and network failures surface to the caller, which treats
    them as the pass-neutral JSON-failure fallback."""
    import os

    if provider == "anthropic":
        base = (
            base_url
            or os.environ.get("ANTHROPIC_BASE_URL", "https://api.anthropic.com")
        ).rstrip("/")
        data = _http_post_json(
            f"{base}/v1/messages",
            {
                "x-api-key": os.environ.get("ANTHROPIC_API_KEY", ""),
                "anthropic-version": "2023-06-01",
            },
            {
                "model": model or "claude-sonnet-4-5",
                "max_tokens": 256,
                "messages": [{"role": "user", "content": prompt}],
            },
        )
        return data["content"][0]["text"]
    if provider == "openai":
        base = (
            base_url
            or os.environ.get("OPENAI_BASE_URL", "https://api.openai.com/v1")
        ).rstrip("/")
        data = _http_post_json(
            f"{base}/chat/completions",
            {
                "authorization": "Bearer "
                + os.environ.get("OPENAI_API_KEY", "")
            },
            {
                "model": model or "gpt-4o-mini",
                "messages": [{"role": "user", "content": prompt}],
                "max_tokens": 256,
            },
        )
        return data["choices"][0]["message"]["content"]
    raise ValueError(f"unknown provider: {provider}")


def llm_scores(
    df: DataFrame,
    id_col: str,
    instruction_col: str = "instruction",
    response_col: str = "response",
    provider: str = "mock",
    model: Optional[str] = None,
    base_url: Optional[str] = None,
) -> DataFrame:
    """Score every row with the LLM judge via ``mapInPandas`` — Arrow
    batches in, one provider session per partition, scores out keyed by
    ``__row_id`` for the join back. ``base_url`` is serialized into the
    worker closure (executor processes don't inherit driver env set
    after JVM start)."""

    cols = [id_col, instruction_col, response_col]

    def judge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                inst = row[instruction_col]
                resp = row[response_col]
                if provider == "mock":
                    scores = _mock_judge(inst, resp)
                else:
                    # NOT str.format(): the template's literal JSON
                    # braces ({"clarity": n, ...}) are format fields to
                    # .format() and raise KeyError
                    prompt = _render_judge_prompt(inst, resp)
                    try:
                        scores = _parse_judge_json(
                            _call_provider(provider, model, prompt, base_url)
                        )
                    except Exception:
                        # provider failure == JSON failure: pass-neutral
                        scores = _parse_judge_json("")
                scores["__row_id"] = str(row[id_col])
                out.append(scores)
            yield pd.DataFrame(
                out,
                columns=[
                    "__row_id", "clarity", "relevance", "completeness",
                    "accuracy", "overall",
                ],
            )

    return df.select(*cols).mapInPandas(judge, schema=SCORE_SCHEMA)


def with_llm_quality(
    df: DataFrame,
    id_col: str,
    min_score: float = 3.0,
    provider: str = "mock",
    model: Optional[str] = None,
    base_url: Optional[str] = None,
) -> DataFrame:
    """Join LLM scores back and add the ``llm_quality`` pass column
    (INFO severity in the reference ruleset, ``rules.py:478-498``)."""
    scores = llm_scores(
        df, id_col, provider=provider, model=model, base_url=base_url
    )
    joined = df.join(
        scores.withColumnRenamed("__row_id", id_col),
        id_col,
        "left",
    )
    return joined.withColumn(
        "llm_quality_passed",
        F.coalesce(F.col("overall") >= min_score, F.lit(True)),
    )


def llm_quality_ruleset() -> RuleSet:
    """The judge's verdict as a one-rule suite: INFO ``llm_quality``
    reads the ``llm_quality_passed`` column of :func:`with_llm_quality`."""
    rs = RuleSet("llm", load_builtins=False)
    rs.add_rule(RuleDef(
        "llm_quality", "LLM quality judge", Severity.INFO,
        lambda df, s: (F.col("llm_quality_passed"), None),
    ))
    return rs
