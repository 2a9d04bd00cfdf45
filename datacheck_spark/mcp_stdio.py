"""MCP stdio wire protocol binding for the tool-call API.

Implements the public Model Context Protocol stdio transport
(modelcontextprotocol.io spec, 2025-06-18 revision): newline-delimited
UTF-8 JSON-RPC 2.0 messages on stdin/stdout. No SDK dependency — the
protocol surface needed for a tools server is small:

- ``initialize``                → capabilities + serverInfo
- ``notifications/initialized`` → (notification, no response)
- ``ping``                      → {}
- ``tools/list``                → the 19 tool descriptors (``api.TOOLS``)
- ``tools/call``                → dispatch to ``api.call_tool``

Reference parity: ``mcp_server.py:837-844`` serves the first 11 tools
through the MCP SDK's ``stdio_server``; results here are returned as
one JSON text content block (the reference renders Markdown — the
structured payload is strictly more machine-usable).

Run: ``spark-submit --py-files datacheck_spark.zip -m
datacheck_spark.mcp_stdio`` (or plain ``python -m``); the SparkSession
is created lazily on the first ``tools/call``.
"""

from __future__ import annotations

import json
import sys
from typing import Any, Dict, Optional, TextIO

from datacheck_spark.api import TOOLS, call_tool

PROTOCOL_VERSION = "2025-06-18"
# Older spec revisions this server also speaks: initialize echoes the
# client's requested version when it is one of these (per the MCP
# version-negotiation rules), else answers with the latest.
SUPPORTED_PROTOCOL_VERSIONS = ("2025-06-18", "2025-03-26", "2024-11-05")

#: permissive input schemas: every tool takes a JSON object whose exact
#: fields are documented per tool (samples / baseline / current / ...).
_TOOL_DESCRIPTIONS = {
    "check_data_quality": "Validate samples against a ruleset + schema; returns pass rates and per-rule results",
    "infer_schema": "Infer a validation schema (types, bounds, enums) from samples",
    "fix_data": "Auto-fix samples: dedup, trim, remove-empty, PII redaction",
    "compare_datasets": "Field-wise distribution comparison of two sample sets",
    "check_drift": "Distribution drift between baseline and current samples",
    "check_leakage": "Train/test leakage (exact and near duplicates)",
    "check_bias": "Group-balance bias analysis over a category field",
    "check_coverage": "Field coverage: presence, non-empty, distinct counts",
    "calculate_contribution": "Contribution weights (base x quality x time x scarcity)",
    "generate_report": "Render a quality report (markdown/json/html)",
    "diff_reports": "Diff two quality reports (arrows per metric)",
    "diagnose_skew": "Pre-shuffle skew report: hot keys, salt fan-outs, partition balance",
    "suggest_rules": "Profile samples and suggest a validation rules config (round-trips into check_data_quality)",
    "validate_from_datarecipe": "Validate data against a DataRecipe analysis directory",
    "list_quality_rules": "List the builtin quality rules with severity and enabled state",
    "batch_check_directory": "Batch-check every data file under a directory (one fused pass)",
    "compare_distributions": "Per-file distribution summaries for N data files (+ field deltas for 2)",
    "check_conversation_structure": "Cross-turn transcript structure verdicts: turn contiguity, role alternation, ts monotonicity, tool-call pairing, empty assistant turns",
    "dedup_conversations": "Conversation-level exact dedup: groups whose entire ordered turn content is identical (ts-insensitive fingerprint)",
}


def _props(**props: Any) -> Dict[str, Any]:
    return {k: {"type": v} if isinstance(v, str) else v for k, v in props.items()}


#: typed input schemas mirroring the reference's registered tools
#: (``mcp_server.py:30-277``). additionalProperties stays True: every
#: tool also accepts inline ``samples`` (and tool-specific extras).
_TOOL_SCHEMAS: Dict[str, Dict[str, Any]] = {
    "check_data_quality": {
        "properties": _props(
            data_path="string", schema_path="string", ruleset="string",
            sample_count="integer", sample_rate="number",
        ),
    },
    "validate_from_datarecipe": {
        "properties": _props(analysis_dir="string", data_path="string"),
        "required": ["analysis_dir"],
    },
    "compare_distributions": {
        "properties": {
            "file_paths": {"type": "array", "items": {"type": "string"}},
        },
        "required": ["file_paths"],
    },
    "list_quality_rules": {"properties": {}},
    "infer_schema": {
        "properties": _props(data_path="string", output_path="string"),
    },
    "fix_data": {
        "properties": _props(
            data_path="string", output_path="string", strip_pii="boolean",
        ),
    },
    "batch_check_directory": {
        # no sample_count: the fused per-file pass reads everything
        # (advertising an ignored limit would be worse than omitting it)
        "properties": _props(
            directory="string", schema_path="string", ruleset="string",
            pattern="string",
        ),
        "required": ["directory"],
    },
    "check_drift": {
        "properties": {
            "data_path_a": {"type": "string"},
            "data_path_b": {"type": "string"},
            "fields": {"type": "array", "items": {"type": "string"}},
        },
    },
    "check_leakage": {
        "properties": {
            "train_path": {"type": "string"},
            "test_path": {"type": "string"},
            "key_fields": {"type": "array", "items": {"type": "string"}},
            "threshold": {"type": "number"},
        },
    },
    "check_bias": {
        "properties": _props(
            data_path="string", label_field="string", text_field="string",
        ),
    },
    "check_coverage": {
        "properties": _props(data_path="string", sample_count="integer"),
    },
    "diagnose_skew": {
        "properties": {
            "path": {"type": "string"},
            "key_fields": {"type": "array", "items": {"type": "string"}},
            "top_k": {"type": "integer"},
            "salt_threshold": {"type": "number"},
        },
        "required": ["key_fields"],
    },
    "suggest_rules": {
        "properties": _props(
            path="string", enum_max_uniques="integer",
            required_threshold="number",
        ),
    },
    "check_conversation_structure": {
        "properties": _props(
            path="string", ts_col="string", max_return_rows="integer",
        ),
    },
    "dedup_conversations": {
        "properties": _props(
            path="string", max_ids="integer", max_return_rows="integer",
        ),
    },
}


def _tool_descriptor(name: str) -> Dict[str, Any]:
    schema = {"type": "object", "additionalProperties": True}
    schema.update(_TOOL_SCHEMAS.get(name, {}))
    return {
        "name": name,
        "description": _TOOL_DESCRIPTIONS.get(name, name),
        "inputSchema": schema,
    }


class McpStdioServer:
    """Blocking JSON-RPC loop over text streams (stdio by default)."""

    def __init__(
        self,
        in_stream: Optional[TextIO] = None,
        out_stream: Optional[TextIO] = None,
        spark=None,
    ):
        self._in = in_stream or sys.stdin
        self._out = out_stream or sys.stdout
        self._spark = spark

    def _ensure_spark(self):
        if self._spark is None:
            from pyspark.sql import SparkSession

            self._spark = (
                SparkSession.builder.appName("datacheck-mcp")
                .config("spark.sql.session.timeZone", "UTC")
                .config("spark.ui.enabled", "false")
                .getOrCreate()
            )
        return self._spark

    # -- protocol handlers -------------------------------------------------

    def _handle(self, msg: Dict[str, Any]) -> Optional[Dict[str, Any]]:
        method = msg.get("method")
        msg_id = msg.get("id")
        if method == "notifications/initialized":
            return None  # notification: no response
        if msg_id is None:
            return None  # other notifications are ignored per spec
        try:
            if method == "initialize":
                requested = (msg.get("params") or {}).get(
                    "protocolVersion"
                )
                result = {
                    "protocolVersion": (
                        requested
                        if requested in SUPPORTED_PROTOCOL_VERSIONS
                        else PROTOCOL_VERSION
                    ),
                    "capabilities": {"tools": {}},
                    "serverInfo": {
                        "name": "datacheck-spark",
                        "version": "2.0",
                    },
                }
            elif method == "ping":
                result = {}
            elif method == "tools/list":
                result = {"tools": [_tool_descriptor(t) for t in TOOLS]}
            elif method == "tools/call":
                params = msg.get("params") or {}
                name = params.get("name")
                if name not in TOOLS:
                    return self._error(msg_id, -32602, f"unknown tool: {name}")
                payload = call_tool(
                    self._ensure_spark(), name, params.get("arguments") or {}
                )
                result = {
                    "content": [
                        {
                            "type": "text",
                            "text": json.dumps(
                                payload, ensure_ascii=False, default=str
                            ),
                        }
                    ],
                    "isError": False,
                }
            else:
                return self._error(msg_id, -32601, f"method not found: {method}")
        except Exception as exc:  # tool errors -> isError result, not crash
            if method == "tools/call":
                return {
                    "jsonrpc": "2.0",
                    "id": msg_id,
                    "result": {
                        "content": [{"type": "text", "text": str(exc)}],
                        "isError": True,
                    },
                }
            return self._error(msg_id, -32603, str(exc))
        return {"jsonrpc": "2.0", "id": msg_id, "result": result}

    @staticmethod
    def _error(msg_id, code: int, message: str) -> Dict[str, Any]:
        return {
            "jsonrpc": "2.0",
            "id": msg_id,
            "error": {"code": code, "message": message},
        }

    def _send(self, msg: Dict[str, Any]) -> None:
        self._out.write(json.dumps(msg, ensure_ascii=False) + "\n")
        self._out.flush()

    def serve_forever(self) -> None:
        """Read newline-delimited JSON-RPC until EOF."""
        for line in self._in:
            line = line.strip()
            if not line:
                continue
            try:
                msg = json.loads(line)
            except json.JSONDecodeError:
                self._send(self._error(None, -32700, "parse error"))
                continue
            reply = self._handle(msg)
            if reply is not None:
                self._send(reply)


def main() -> int:
    McpStdioServer().serve_forever()
    return 0


if __name__ == "__main__":
    sys.exit(main())
