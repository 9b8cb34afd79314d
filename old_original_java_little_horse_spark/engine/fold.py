"""The engine core: a pure event-fold over workflow-run state.

This is the Spark-first re-expression of the reference scheduler
(`J/scheduler/SchedulerProcessor.java:35-237` with the run-state
logic of `J/common/objects/rundata/{WFRun,ThreadRun,Mutation}.java`;
paths relative to /root/reference, J/ = app/src/main/java/little/horse/).

Design: the whole state machine is **pure Python over plain dicts** —
`(spec, state, event) -> (state', outputs)` — with no Spark imports.
That purity is the point: the same function is

- unit-tested without Spark (tests mirror the reference harness
  scenarios, `lhctl/lh_test_harness/tests/*`),
- applied per-key in batch, every run of a partition in one
  ``mapInPandas`` call (engine/batch.py),
- applied per-key in streaming via row-based ``transformWithState``
  (streaming/tws.py, wired by streaming/engine.py),
- usable as the batch oracle for the streaming engine.

Events, specs, and state use the column shapes documented in
FIXTURES.md so the Spark schemas line up 1:1.
"""

from __future__ import annotations

import json
from typing import Any, Callable

# ---------------------------------------------------------------------------
# Enums (LHExecutionStatus.java:3-9, LHFailureReason.java:3-10,
# WFHaltReasonEnum.java:10-17, WFEventType.java:3-10, NodeType.java:3-11)
# ---------------------------------------------------------------------------

RUNNING, SCHEDULED, HALTING, HALTED, COMPLETED = (
    "RUNNING", "SCHEDULED", "HALTING", "HALTED", "COMPLETED",
)

TASK_FAILURE = "TASK_FAILURE"
VARIABLE_LOOKUP_ERROR = "VARIABLE_LOOKUP_ERROR"
INVALID_WF_SPEC_ERROR = "INVALID_WF_SPEC_ERROR"
TIMEOUT = "TIMEOUT"
SUBTHREAD_FAILURE = "SUBTHREAD_FAILURE"
INTERNAL_ERROR = "INTERNAL_LITTLEHORSE_ERROR"

# Halt reasons
PARENT_STOPPED = "PARENT_STOPPED"
PARENT_INTERRUPTED = "PARENT_INTERRUPTED"
FAILED = "FAILED"
INTERRUPT = "INTERRUPT"
MANUAL_STOP = "MANUAL_STOP"

# Retryable failure classes (LHUtil.java:300-310)
RETRYABLE = {TASK_FAILURE, TIMEOUT}


class VarSubError(Exception):
    """VarSubOrzDash: variable substitution / mutation failure."""


# ---------------------------------------------------------------------------
# JSONPath subset walker (LHUtil.java:178-188 uses jayway; the harness
# only exercises `$.a.b[1].c` style paths)
# ---------------------------------------------------------------------------

def json_path(data: Any, path: str) -> Any:
    if not path.startswith("$"):
        raise VarSubError(f"unsupported jsonpath: {path}")
    if isinstance(data, str):
        try:
            data = json.loads(data)
        except (json.JSONDecodeError, ValueError) as e:
            raise VarSubError(f"jsonpath target not json: {e}") from e
    cur = data
    i = 1
    n = len(path)
    while i < n:
        if path[i] == ".":
            j = i + 1
            while j < n and path[j] not in ".[":
                j += 1
            key = path[i + 1:j]
            if key:
                if not isinstance(cur, dict) or key not in cur:
                    raise VarSubError(f"jsonpath {path}: missing key {key!r}")
                cur = cur[key]
            i = j
        elif path[i] == "[":
            try:
                j = path.index("]", i)
            except ValueError as e:
                raise VarSubError(
                    f"jsonpath {path}: unterminated '[' at {i}") from e
            token = path[i + 1:j].strip("'\"")
            if isinstance(cur, list):
                try:
                    idx = int(token)
                except ValueError as e:
                    raise VarSubError(
                        f"jsonpath {path}: non-integer index {token!r} "
                        "on a list") from e
                if idx >= len(cur) or idx < -len(cur):
                    raise VarSubError(f"jsonpath {path}: index {idx} out of range")
                cur = cur[idx]
            elif isinstance(cur, dict):
                if token not in cur:
                    raise VarSubError(f"jsonpath {path}: missing key {token!r}")
                cur = cur[token]
            else:
                raise VarSubError(f"jsonpath {path}: cannot index {type(cur)}")
            i = j + 1
        else:
            raise VarSubError(f"unsupported jsonpath syntax at {path[i:]}")
    return cur


def _parse_maybe_json(s: Any) -> Any:
    """LHUtil.stringToObj: parse JSON if possible, else keep the string."""
    if not isinstance(s, str):
        return s
    try:
        return json.loads(s)
    except (json.JSONDecodeError, ValueError):
        return s


# ---------------------------------------------------------------------------
# Type coercions (Mutation.java:108-199): INT truncates doubles, parses
# strings; ARRAY/OBJECT parse JSON strings.
# ---------------------------------------------------------------------------

def _int_trunc(x: float) -> int:
    """int() with containment: NaN/±inf raise bare ValueError/
    OverflowError, which would escape the `except VarSubError`
    routing and halt the whole run INTERNAL_ERROR instead of failing
    the one task (a worker CAN emit them — json.loads accepts
    'NaN'/'Infinity')."""
    try:
        return int(x)
    except (ValueError, OverflowError) as e:
        raise VarSubError(f"cannot coerce float {x!r} to INT: {e}") from e


def to_int(o: Any) -> int:
    if isinstance(o, bool):
        raise VarSubError(f"cannot coerce bool {o} to INT")
    if isinstance(o, float):
        return _int_trunc(o)  # Double.intValue() truncation
    if isinstance(o, str):
        try:
            return int(o)
        except ValueError as e:
            # Mutation.java:40-54 wraps ANY coercion failure in
            # VarSubOrzDash so fail_task can route it (retry/handler);
            # a raw ValueError would escape to the blanket handler and
            # halt the whole run with INTERNAL_ERROR instead.
            raise VarSubError(f"cannot parse {o!r} as INT: {e}") from e
    if isinstance(o, int):
        return o
    raise VarSubError(f"cannot coerce {type(o).__name__} to INT")


def to_double(o: Any) -> float:
    if isinstance(o, bool):
        raise VarSubError(f"cannot coerce bool {o} to FLOAT")
    if isinstance(o, (int, float)):
        return float(o)
    if isinstance(o, str):
        try:
            return float(o)
        except ValueError as e:
            raise VarSubError(f"cannot parse {o!r} as FLOAT: {e}") from e
    raise VarSubError(f"cannot coerce {type(o).__name__} to FLOAT")


def to_bool(o: Any) -> bool:
    if isinstance(o, bool):
        return o
    if isinstance(o, str):
        return o.lower() == "true"  # Boolean.valueOf semantics
    raise VarSubError(f"cannot coerce {type(o).__name__} to BOOLEAN")


def to_str(o: Any) -> str:
    if o is None:
        return ""
    if isinstance(o, bool):
        return "true" if o else "false"
    if isinstance(o, (dict, list)):
        return json.dumps(o, separators=(",", ":"))
    return str(o)


def to_array(o: Any) -> list:
    if isinstance(o, list):
        return o
    if isinstance(o, str):
        try:
            v = json.loads(o)
        except (json.JSONDecodeError, ValueError) as e:
            raise VarSubError(f"cannot parse string as ARRAY: {e}") from e
        if not isinstance(v, list):
            raise VarSubError("string did not parse to a list")
        return v
    raise VarSubError(f"cannot coerce {type(o).__name__} to ARRAY")


def to_map(o: Any) -> dict:
    if isinstance(o, dict):
        return o
    if isinstance(o, str):
        try:
            v = json.loads(o)
        except (json.JSONDecodeError, ValueError) as e:
            raise VarSubError(f"cannot parse string as OBJECT: {e}") from e
        if not isinstance(v, dict):
            raise VarSubError("string did not parse to a map")
        return v
    raise VarSubError(f"cannot coerce {type(o).__name__} to OBJECT")


_COERCE = {
    "INT": to_int, "FLOAT": to_double, "BOOLEAN": to_bool,
    "STRING": to_str, "ARRAY": to_array, "OBJECT": to_map,
}


def coerce_to_type(value: Any, var_type: str) -> Any:
    try:
        return _COERCE[var_type](value)
    except VarSubError:
        raise
    except Exception as e:
        raise VarSubError(f"coercion to {var_type} failed: {e}") from e


# ---------------------------------------------------------------------------
# Comparison / containment (Mutation.java:314-344, ThreadRun.java:487-503)
# ---------------------------------------------------------------------------

def compare(lhs: Any, rhs: Any) -> int:
    try:
        # Numeric cross-type comparison works like Java Comparable only
        # within a type; Python happily compares int/float which matches
        # the engine's use (INT and FLOAT variables both arrive as numbers).
        if lhs < rhs:
            return -1
        if lhs > rhs:
            return 1
        return 0
    except TypeError as e:
        raise VarSubError(f"cannot compare {lhs!r} and {rhs!r}") from e


def contains(haystack: Any, needle: Any) -> bool:
    try:
        return any(x == needle for x in haystack)
    except TypeError as e:
        raise VarSubError(f"IN rhs is not a collection: {haystack!r}") from e


def evaluate_condition(thread: dict, state: dict, spec: dict, cond: dict | None) -> bool:
    """EdgeCondition eval (ThreadRun.java:487-503)."""
    if not cond:
        return True
    lhs = assign_variable(thread, state, spec, cond["left_side"])
    rhs = assign_variable(thread, state, spec, cond["right_side"])
    op = cond["comparator"]
    if op == "LESS_THAN":
        return compare(lhs, rhs) < 0
    if op == "LESS_THAN_EQ":
        return compare(lhs, rhs) <= 0
    if op == "GREATER_THAN":
        return compare(lhs, rhs) > 0
    if op == "GREATER_THAN_EQ":
        return compare(lhs, rhs) >= 0
    if op == "EQUALS":
        return lhs is not None and _java_equals(lhs, rhs)
    if op == "NOT_EQUALS":
        return lhs is not None and not _java_equals(lhs, rhs)
    if op == "IN":
        return contains(rhs, lhs)
    if op == "NOT_IN":
        return not contains(rhs, lhs)
    raise VarSubError(f"invalid comparator {op}")


def _java_equals(lhs: Any, rhs: Any) -> bool:
    """Object.equals over Jackson-typed JSON scalars
    (ThreadRun.java:497-498): type-strict — Integer(1).equals(
    Double(1.0)) and Boolean.TRUE.equals(Integer(1)) are both false,
    where Python's ``==`` would say True for 1 == 1.0 and True == 1.
    Containers still compare by Python equality (the harness never
    exercises cross-typed nesting)."""
    if isinstance(lhs, bool) != isinstance(rhs, bool):
        return False
    if isinstance(lhs, float) != isinstance(rhs, float):
        if isinstance(lhs, (int, float)) and isinstance(rhs, (int, float)):
            return False
    return lhs == rhs


# ---------------------------------------------------------------------------
# Spec accessors
# ---------------------------------------------------------------------------

def thread_spec(spec: dict, name: str) -> dict:
    return spec["thread_specs"][name]


def node_of(spec: dict, thread: dict, node_name: str) -> dict:
    return thread_spec(spec, thread["thread_spec_name"])["nodes"][node_name]


def outgoing_edges(spec: dict, thread: dict, node_name: str) -> list[dict]:
    ts = thread_spec(spec, thread["thread_spec_name"])
    return [e for e in ts["edges"] if e["source_node_name"] == node_name]


def interrupt_events(spec: dict) -> set[str]:
    """WFSpec.interruptEvents (WFSpec.java:321-341): union of every
    thread spec's interrupt_defs keys."""
    out: set[str] = set()
    for ts in spec["thread_specs"].values():
        out.update((ts.get("interrupt_defs") or {}).keys())
    return out


def needed_vars(node: dict) -> set[str]:
    """Node.getNeededVars (Node.java:96-120)."""
    out: set[str] = set()
    for va in (node.get("variables") or {}).values():
        if va.get("wf_run_variable_name"):
            out.add(va["wf_run_variable_name"])
    for var_name, mut in (node.get("variable_mutations") or {}).items():
        out.add(var_name)
        sv = mut.get("source_variable")
        if sv and sv.get("wf_run_variable_name"):
            out.add(sv["wf_run_variable_name"])
    return out


# ---------------------------------------------------------------------------
# Variable scoping: lookup climbs the parent-thread chain
# (ThreadRun.java:131-155), locks live on the owning thread
# (ThreadRun.java:551-604)
# ---------------------------------------------------------------------------

def get_variable(thread: dict, state: dict, spec: dict, name: str):
    """Returns (owning_thread, var_def, value) or (None, None, None)."""
    t = thread
    while t is not None:
        ts = thread_spec(spec, t["thread_spec_name"])
        if name in (ts.get("variable_defs") or {}):
            return t, ts["variable_defs"][name], t["variables"].get(name)
        pid = t.get("parent_thread_id")
        t = state["thread_runs"][pid] if pid is not None else None
    return None, None, None


def assign_variable(thread: dict, state: dict, spec: dict, va: dict) -> Any:
    """VariableAssignment evaluation (ThreadRun.java:174-228)."""
    if va.get("literal_value") is not None:
        return va["literal_value"]

    data = None
    if va.get("wf_run_variable_name"):
        _, vdef, value = get_variable(thread, state, spec, va["wf_run_variable_name"])
        if value is None:
            raise VarSubError(
                f"No variable named {va['wf_run_variable_name']} in context, "
                "or it was null at time of access."
            )
        data = value
    elif va.get("wf_run_metadata"):
        md = va["wf_run_metadata"]
        if md == "WF_RUN_GUID":
            return state["id"]
        if md == "WF_SPEC_GUID":
            return state["wf_spec_id"]
        if md == "WF_SPEC_NAME":
            return state["wf_spec_name"]
        if md == "THREAD_GUID":
            return f"{thread['id']}-{state['id']}"
        if md == "THREAD_ID":
            return thread["id"]

    if data is None:
        if va.get("default_value") is None:
            raise VarSubError("variable assignment resolved to nothing")
        return va["default_value"]
    if not va.get("json_path"):
        return data
    return json_path(data, va["json_path"])


def is_locked(state: dict, thread: dict, var_name: str, locker_id: int) -> bool:
    t = thread
    while t is not None:
        if var_name in t["variables"]:
            holder = t["variable_locks"].get(var_name)
            return holder is not None and holder != locker_id
        pid = t.get("parent_thread_id")
        t = state["thread_runs"][pid] if pid is not None else None
    return False


def _lock_owner(state: dict, thread: dict, var_name: str) -> dict | None:
    t = thread
    while t is not None:
        if var_name in t["variables"]:
            return t
        pid = t.get("parent_thread_id")
        t = state["thread_runs"][pid] if pid is not None else None
    return None


def lock_variables(state: dict, thread: dict, node: dict) -> bool:
    nv = needed_vars(node)
    for v in nv:
        if is_locked(state, thread, v, thread["id"]):
            return False
    for v in nv:
        owner = _lock_owner(state, thread, v)
        if owner is not None:
            owner["variable_locks"][v] = thread["id"]
    return True


def unlock_variables(state: dict, thread: dict, node: dict) -> None:
    for v in needed_vars(node):
        owner = _lock_owner(state, thread, v)
        if owner is not None:
            owner["variable_locks"].pop(v, None)


# ---------------------------------------------------------------------------
# Mutations (Mutation.java:56-310)
# ---------------------------------------------------------------------------

def mutation_rhs(thread: dict, state: dict, spec: dict, mut: dict, task: dict) -> Any:
    """RHS selection (ThreadRun.java:157-172): jsonpath(stdout) |
    source variable | literal | raw stdout."""
    if mut.get("json_path"):
        return json_path(task.get("stdout"), mut["json_path"])
    if mut.get("source_variable"):
        return assign_variable(thread, state, spec, mut["source_variable"])
    if mut.get("literal_value") is not None:
        return mut["literal_value"]
    return task.get("stdout")


def apply_mutation(op: str, lhs: Any, rhs: Any, var_type: str) -> Any:
    """One mutation op; returns the new value, coerced back to the
    declared type (Mutation.java:102-105)."""
    if op == "ASSIGN":
        out = rhs
    elif op == "ADD":
        if var_type in ("BOOLEAN", "OBJECT"):
            raise VarSubError("Tried to ADD a boolean or object")
        if var_type == "INT":
            out = to_int(lhs) + to_int(rhs)
        elif var_type == "STRING":
            out = to_str(lhs) + to_str(rhs)
        elif var_type == "ARRAY":
            out = list(lhs or []) + [rhs]
        else:  # FLOAT
            out = to_double(lhs) + to_double(rhs)
    elif op == "EXTEND":
        if var_type != "ARRAY" or not isinstance(rhs, list):
            raise VarSubError("Can only EXTEND two arrays")
        out = list(lhs or []) + list(rhs)
    elif op == "DIVIDE":
        lf, rf = to_double(lhs), to_double(rhs)
        if rf == 0:
            raise VarSubError("tried to DIVIDE by zero!")
        res = lf / rf
        out = res if var_type == "FLOAT" else _int_trunc(res)
    elif op == "SUBTRACT":
        res = to_double(lhs) - to_double(rhs)
        out = res if var_type == "FLOAT" else _int_trunc(res)
    elif op == "MULTIPLY":
        res = to_double(lhs) * to_double(rhs)
        out = res if var_type == "FLOAT" else _int_trunc(res)
    elif op == "REMOVE_IF_PRESENT":
        out = [x for x in to_array(lhs) if x != rhs]
    elif op == "REMOVE_KEY":
        m = dict(to_map(lhs))
        if isinstance(rhs, (str, int, float, bool)):  # hashable scalar
            m.pop(rhs, None)  # an unhashable rhs (list/dict) is a no-op
        # DELIBERATE divergence from the reference's literal bytes: a
        # numeric rhs also removes its string form.  The reference's
        # `Map.remove(Integer)` (Mutation.java:288-293) no-ops on the
        # Jackson string-keyed map, but its own harness intends
        # deletion — `remove_key(1234)` with the check "deleted 1234"
        # (var_mutations.py:34,66) — and only passes because Python's
        # `1234 not in {"1234": ...}` is vacuously true.  We implement
        # the intent (the check's comment), not the accident.
        m.pop(to_str(rhs), None)
        out = m
    elif op == "REMOVE_INDEX":
        # Reference quirk (Mutation.java:295-300): `List<Object>.remove(rhs)`
        # binds to the remove-by-*equality* overload, so REMOVE_INDEX
        # removes the first element equal to rhs and silently no-ops when
        # absent — behavior the harness's var_mutations happy path relies
        # on (remove_idx(2) on [[1,2,3]] must not fail).
        arr = list(to_array(lhs))
        if rhs in arr:
            arr.remove(rhs)
        out = arr
    else:
        raise VarSubError(f"invalid mutation operation {op}")
    return coerce_to_type(out, var_type) if out is not None else None


def mutate_variables(thread: dict, state: dict, spec: dict, task: dict) -> None:
    """Atomic batch (ThreadRun.java:400-438): dry-run computes every
    new value; only if all succeed are any applied."""
    node = node_of(spec, thread, task["node_name"])
    muts = node.get("variable_mutations") or {}
    staged: list[tuple[dict, str, Any]] = []
    for var_name, mut in muts.items():
        owner, vdef, lhs = get_variable(thread, state, spec, var_name)
        if vdef is None:
            raise VarSubError(f"mutation target variable {var_name} not defined")
        try:
            rhs = mutation_rhs(thread, state, spec, mut, task)
            new_val = apply_mutation(mut["operation"], lhs, rhs, vdef["type"])
        except VarSubError as e:
            # Error containment names the variable (Mutation.java:44-54)
            # — the harness asserts the message mentions it.
            raise VarSubError(f"error mutating variable {var_name}: {e}") from e
        staged.append((owner, var_name, new_val))
    for owner, var_name, new_val in staged:
        owner["variables"][var_name] = new_val


# ---------------------------------------------------------------------------
# ThreadRun / TaskRun lifecycle
# ---------------------------------------------------------------------------

def create_thread(state: dict, spec: dict, thread_name: str,
                  variables: dict, parent: dict | None) -> dict:
    """WFRun.createThreadClientAdds (WFRun.java:80-140)."""
    ts = thread_spec(spec, thread_name)
    tid = len(state["thread_runs"])
    tvars = {}
    for var_name, vdef in (ts.get("variable_defs") or {}).items():
        val = (variables or {}).get(var_name)
        tvars[var_name] = val if val is not None else vdef.get("default_value")
    thread = {
        "id": tid,
        "parent_thread_id": parent["id"] if parent else None,
        "thread_spec_name": thread_name,
        "status": RUNNING if parent is None else parent["status"],
        "variables": tvars,
        # Declared types (spec variable_defs) travel with the document
        # so the index layer can apply the reference's `instanceof
        # String` alias rule (WFRun.java:328-330) on declared type, not
        # on how the value happens to render.
        "var_types": {v: (d.get("type") or "STRING")
                      for v, d in (ts.get("variable_defs") or {}).items()},
        "up_next": [{"attempt": 0, "source_node_name": None,
                     "sink_node_name": ts["entrypoint_node_name"],
                     "condition": None, "already_activated": False}],
        "task_runs": [],
        "child_thread_ids": [],
        "active_interrupt_thread_ids": [],
        "handled_interrupt_thread_ids": [],
        "halt_reasons": [],
        "is_interrupt_thread": False,
        "variable_locks": {},
        "error_message": "",
        "exception_name": None,
    }
    if parent is not None:
        parent["child_thread_ids"].append(tid)
        if parent["status"] in (HALTED, HALTING):
            thread["halt_reasons"].append(PARENT_STOPPED)
    state["thread_runs"].append(thread)
    return thread


def new_task_run(thread: dict, node: dict, attempt: int = 0) -> dict:
    """createNewTaskRun (ThreadRun.java:246-269): position = append
    index; retries (attempt != 0) share `number`."""
    trs = thread["task_runs"]
    if not trs:
        number = 0
    elif attempt != 0:
        number = trs[-1]["number"]
    else:
        number = trs[-1]["number"] + 1
    return {
        "position": len(trs),
        "number": number,
        "attempt_number": attempt,
        "node_name": node["name"],
        "status": RUNNING,
        "stdin": None, "stdout": None, "stderr": None,
        "return_code": None,
        "failure_reason": None, "failure_message": None,
        "schedule_time": None, "start_time": None, "end_time": None,
        "worker_id": None,
    }


def _edges_to_up_next(spec: dict, thread: dict, node_name: str) -> None:
    for e in outgoing_edges(spec, thread, node_name):
        thread["up_next"].append({
            "attempt": 0,
            "source_node_name": e["source_node_name"],
            "sink_node_name": e["sink_node_name"],
            "condition": e.get("condition"),
            "already_activated": False,
        })


def task_terminated(task: dict) -> bool:
    return task["status"] in (COMPLETED, HALTED)


def thread_completed(t: dict) -> bool:
    return t["status"] == COMPLETED


def thread_terminated(t: dict) -> bool:
    """ThreadRun.isTerminated (ThreadRun.java:1262-1270)."""
    return t["status"] not in (RUNNING, SCHEDULED) and (
        thread_completed(t) or FAILED in t["halt_reasons"]
    )


def halt_thread(state: dict, thread: dict, reason: str, message: str) -> None:
    """ThreadRun.halt (ThreadRun.java:1166-1190)."""
    if thread["status"] == RUNNING:
        thread["status"] = HALTING
        thread["error_message"] += message + "\n"
    if reason not in thread["halt_reasons"]:
        thread["halt_reasons"].append(reason)
    for kid_id in thread["child_thread_ids"]:
        kid = state["thread_runs"][kid_id]
        if kid["is_interrupt_thread"] and reason == INTERRUPT:
            continue
        halt_thread(state, kid, PARENT_STOPPED, "Parent thread was halted.")


def remove_halt_reason(state: dict, thread: dict, reason: str) -> None:
    """ThreadRun.removeHaltReason (ThreadRun.java:1192-1214)."""
    if reason in thread["halt_reasons"]:
        thread["halt_reasons"].remove(reason)
    if not thread["halt_reasons"]:
        if thread["status"] in (HALTED, HALTING):
            thread["status"] = RUNNING
            thread["error_message"] = ""
        for kid_id in thread["child_thread_ids"]:
            remove_halt_reason(state, state["thread_runs"][kid_id], PARENT_STOPPED)
    elif thread["halt_reasons"] == [INTERRUPT]:
        for kid_id in thread["child_thread_ids"]:
            kid = state["thread_runs"][kid_id]
            if kid["is_interrupt_thread"]:
                remove_halt_reason(state, kid, PARENT_INTERRUPTED)


class Ctx:
    """Per-process_event output collector (the SchedulerProcessor's
    toSchedule/timers lists)."""

    def __init__(self) -> None:
        self.to_schedule: list[dict] = []
        self.timers: list[dict] = []


def _timeout_seconds(thread: dict, state: dict, spec: dict, node: dict) -> int | None:
    """getTimeoutTime (ThreadRun.java:769-792): must resolve to a
    non-negative int."""
    ts_va = node.get("timeout_seconds")
    if ts_va is None:
        return None
    val = assign_variable(thread, state, spec, ts_va)
    if isinstance(val, bool) or not isinstance(val, int) or val < 0:
        raise VarSubError(f"bad timeout/sleep seconds: {val!r}")
    return val


def fail_task(state: dict, spec: dict, thread: dict, task: dict,
              reason: str, message: str) -> None:
    """failTask (ThreadRun.java:455-484): retry → exception handler →
    halt(FAILED)."""
    task["status"] = HALTED
    task["failure_reason"] = reason
    task["failure_message"] = message
    node = node_of(spec, thread, task["node_name"])
    if reason in RETRYABLE and task["attempt_number"] < (node.get("num_retries") or 0):
        thread["up_next"].append({
            "attempt": task["attempt_number"] + 1,
            "source_node_name": None,
            "sink_node_name": node["name"],
            "condition": None,
            "already_activated": False,
        })
    elif node.get("base_exception_handler"):
        _start_interrupt_thread(
            state, spec, thread, node["base_exception_handler"], {}, is_exception=True
        )
    else:
        halt_thread(
            state, thread, FAILED,
            f"Thread {thread['id']} failed on task {task['node_name']}: "
            f"{reason}: {message}",
        )


def complete_task(state: dict, spec: dict, thread: dict, task: dict,
                  status: str, result: dict, end_time: Any,
                  reason: str = TASK_FAILURE) -> None:
    """completeTask (ThreadRun.java:319-374)."""
    task["end_time"] = end_time
    task["stdout"] = _parse_maybe_json(result.get("stdout"))
    task["stderr"] = _parse_maybe_json(result.get("stderr"))
    task["status"] = status
    task["return_code"] = result.get("returncode")

    node = node_of(spec, thread, task["node_name"])
    unlock_variables(state, thread, node)
    thread["up_next"] = []

    if status == COMPLETED:
        try:
            mutate_variables(thread, state, spec, task)
        except VarSubError as e:
            fail_task(state, spec, thread, task, VARIABLE_LOOKUP_ERROR,
                      f"Failed mutating variables after task: {e}")
    else:
        fail_task(state, spec, thread, task, reason,
                  f"thread failed on node {task['node_name']}: {result.get('stderr')}")

    if not thread["up_next"]:
        _edges_to_up_next(spec, thread, task["node_name"])


def _start_interrupt_thread(state: dict, spec: dict, thread: dict,
                            handler_name: str, inputs: dict,
                            is_exception: bool) -> None:
    """addAndStartInterruptThread (ThreadRun.java:1230-1251): create the
    handler BEFORE halting so the halt doesn't propagate to it."""
    handler = create_thread(state, spec, handler_name, inputs, thread)
    handler["is_interrupt_thread"] = True
    thread["active_interrupt_thread_ids"].append(handler["id"])
    halt_thread(
        state, thread, INTERRUPT,
        "Halted to handle Exception" if is_exception else "Halted for interrupt",
    )


def _unsplat(content: Any) -> dict:
    """LHUtil.unsplat (LHUtil.java:121-137): map → itself; json-string
    map → parsed; anything else → {"": value}."""
    if isinstance(content, dict):
        return content
    parsed = _parse_maybe_json(content)
    if isinstance(parsed, dict):
        return parsed
    return {"": content}


def handle_interrupt(state: dict, spec: dict, thread: dict, payload: dict) -> None:
    """handleInterrupt (ThreadRun.java:1219-1228)."""
    idefs = thread_spec(spec, thread["thread_spec_name"]).get("interrupt_defs") or {}
    handler_name = idefs.get(payload["external_event_def_name"])
    if handler_name is None:
        # Targeted at a thread whose spec does not declare this
        # interrupt (e.g. a producer that encodes "unspecified" as
        # thread 0 instead of the -1 sentinel, FIXTURES.md): fall back
        # to propagation from the root so the listening thread still
        # gets it — a KeyError here would escape to the blanket
        # handler and halt the run with INTERNAL_ERROR.
        propagate_interrupt(state, spec, state["thread_runs"][0], payload)
        return
    _start_interrupt_thread(
        state, spec, thread, handler_name, _unsplat(payload.get("content")), False
    )


def propagate_interrupt(state: dict, spec: dict, thread: dict, payload: dict) -> None:
    """propagateInterrupt (ThreadRun.java:1274-1285): first thread (by
    depth) whose spec listens handles it; else recurse to children."""
    idefs = thread_spec(spec, thread["thread_spec_name"]).get("interrupt_defs") or {}
    if payload["external_event_def_name"] in idefs:
        handle_interrupt(state, spec, thread, payload)
    else:
        for kid_id in thread["child_thread_ids"]:
            propagate_interrupt(state, spec, state["thread_runs"][kid_id], payload)


# ---------------------------------------------------------------------------
# Node activation (ThreadRun.java:670-1073)
# ---------------------------------------------------------------------------

def activate_node(state: dict, spec: dict, thread: dict, node: dict,
                  event: dict, ctx: Ctx, attempt: int, pair: dict) -> bool:
    nt = node["node_type"]
    if nt == "TASK":
        return _activate_task(state, spec, thread, node, event, ctx, attempt)
    if nt == "EXTERNAL_EVENT":
        return _activate_external_event(state, spec, thread, node, event, ctx, attempt, pair)
    if nt == "SPAWN_THREAD":
        return _activate_spawn_thread(state, spec, thread, node, event, attempt)
    if nt == "WAIT_FOR_THREAD":
        return _activate_wait_for_thread(state, spec, thread, node, event, attempt)
    if nt == "SLEEP":
        return _activate_sleep(state, spec, thread, node, event, ctx, attempt)
    if nt == "NOP":
        thread["up_next"] = []
        tr = new_task_run(thread, node)
        thread["task_runs"].append(tr)
        complete_task(state, spec, thread, tr, COMPLETED,
                      {"stdout": "", "stderr": None, "returncode": 0},
                      event["timestamp"])
        return True
    if nt == "THROW_EXCEPTION":
        tr = new_task_run(thread, node, attempt)
        thread["task_runs"].append(tr)
        thread["exception_name"] = node.get("exception_to_throw")
        complete_task(state, spec, thread, tr, HALTED,
                      {"stdout": None,
                       "stderr": f"Throwing exception {thread['exception_name']}",
                       "returncode": -1},
                      event["timestamp"])
        return True
    raise VarSubError(f"invalid node type {nt}")


def _activate_task(state, spec, thread, node, event, ctx: Ctx, attempt) -> bool:
    """activateTaskNode (ThreadRun.java:793-857)."""
    thread["up_next"] = []
    tr = new_task_run(thread, node, attempt)
    tr["schedule_time"] = event["timestamp"]
    tr["status"] = SCHEDULED
    thread["task_runs"].append(tr)

    subs = {}
    for var_name, va in (node.get("variables") or {}).items():
        try:
            subs[var_name] = assign_variable(thread, state, spec, va)
        except VarSubError:
            subs[var_name] = None  # reference logs and proceeds
    tsr = {
        "task_def_name": node["task_def_name"],
        "task_def_id": node["task_def_name"],
        "wf_run_id": state["id"],
        "wf_spec_id": state["wf_spec_id"],
        "wf_spec_name": state["wf_spec_name"],
        "thread_id": thread["id"],
        "task_run_position": tr["position"],
        "attempt_number": attempt,
        "variable_substitutions": subs,
    }
    try:
        timeout = _timeout_seconds(thread, state, spec, node)
        if timeout is not None:
            ctx.timers.append({
                "wf_run_id": state["id"],
                "thread_run_id": thread["id"],
                "task_run_id": tr["position"],
                "node_name": node["name"],
                "maturation_timestamp": event["timestamp"] + timeout * 1000,
            })
        ctx.to_schedule.append(tsr)  # only schedule if timeout resolved
    except VarSubError as e:
        fail_task(state, spec, thread, tr, INVALID_WF_SPEC_ERROR,
                  f"Failed calculating timeout: {e}")
    return True


def _activate_external_event(state, spec, thread, node, event, ctx: Ctx,
                             attempt, pair) -> bool:
    """activateExternalEventNode (ThreadRun.java:898-978): edge stays in
    up_next while waiting; one timer per edge activation."""
    if not pair["already_activated"]:
        pair["already_activated"] = True
        try:
            timeout = _timeout_seconds(thread, state, spec, node)
            if timeout is not None:
                ctx.timers.append({
                    "wf_run_id": state["id"],
                    "thread_run_id": thread["id"],
                    "task_run_id": len(thread["task_runs"]),
                    "node_name": node["name"],
                    "maturation_timestamp": event["timestamp"] + timeout * 1000,
                })
        except VarSubError as e:
            tr = new_task_run(thread, node, attempt)
            thread["task_runs"].append(tr)
            fail_task(state, spec, thread, tr, INVALID_WF_SPEC_ERROR,
                      f"Failed to determine timeout: {e}")
            return True

    correls = state["correlated_events"].setdefault(node["external_event_def_name"], [])
    match = None
    for cand in correls:
        if cand.get("event") is not None and cand.get("assigned_node_name") is None:
            match = cand  # NO break: the reference's candidate loop
            # keeps overwriting (ThreadRun.java:950-957), so the LAST
            # unassigned buffered event is the one consumed — matching
            # first-buffered here would hand a different payload to the
            # wait node than the reference whenever several events of
            # one def are pending.
    if match is None:
        return False  # still waiting, nothing changed

    tr = new_task_run(thread, node, attempt)
    thread["task_runs"].append(tr)
    match["assigned_node_name"] = node["name"]
    match["assigned_task_run_position"] = tr["position"]
    match["assigned_thread_id"] = thread["id"]
    complete_task(
        state, spec, thread, tr, COMPLETED,
        {"stdout": to_str(match["event"].get("content")), "stderr": None, "returncode": 0},
        match["event"].get("timestamp", event["timestamp"]),
    )
    return True


def _activate_spawn_thread(state, spec, thread, node, event, attempt) -> bool:
    """activateSpawnThreadNode (ThreadRun.java:859-896)."""
    thread["up_next"] = []
    tr = new_task_run(thread, node, attempt)
    inputs = {}
    try:
        for var_name, va in (node.get("variables") or {}).items():
            inputs[var_name] = assign_variable(thread, state, spec, va)
    except VarSubError as e:
        thread["task_runs"].append(tr)
        fail_task(state, spec, thread, tr, VARIABLE_LOOKUP_ERROR,
                  f"Failed creating variables for subthread: {e}")
        return True
    child = create_thread(state, spec, node["thread_spawn_thread_spec_name"],
                          inputs, thread)
    thread["task_runs"].append(tr)
    meta = {"threadId": child["id"], "threadSpecName": child["thread_spec_name"]}
    complete_task(state, spec, thread, tr, COMPLETED,
                  {"stdout": json.dumps(meta, separators=(",", ":")),
                   "stderr": None, "returncode": 0},
                  event["timestamp"])
    return True


def _activate_wait_for_thread(state, spec, thread, node, event, attempt) -> bool:
    """activateWaitForThreadNode (ThreadRun.java:980-1073)."""
    tr = new_task_run(thread, node, attempt)
    try:
        tid = assign_variable(thread, state, spec, node["thread_wait_thread_id"])
        if isinstance(tid, bool) or not isinstance(tid, int):
            raise VarSubError(f"thread id is not an int: {tid!r}")
    except VarSubError as e:
        thread["task_runs"].append(tr)
        fail_task(state, spec, thread, tr, VARIABLE_LOOKUP_ERROR,
                  f"Failed determining ID of thread to wait for: {e}")
        return True

    failure = None
    if tid >= len(state["thread_runs"]) or tid < 0:
        failure = f"Supposed to wait for thread {tid} but that thread doesn't exist yet!"
    elif tid == thread["id"]:
        failure = f"Tried to wait for id {tid} but that is the running thread!"
    if failure:
        thread["task_runs"].append(tr)
        fail_task(state, spec, thread, tr, INVALID_WF_SPEC_ERROR, failure)
        return True

    child = state["thread_runs"][tid]
    if not thread_terminated(child):
        return False  # still waiting

    if thread_completed(child):
        thread["task_runs"].append(tr)
        complete_task(state, spec, thread, tr, COMPLETED,
                      {"stdout": json.dumps(child["variables"], separators=(",", ":")),
                       "stderr": None, "returncode": 0},
                      event["timestamp"])
        return True

    # Child failed: route to the node's exception handler if any.
    handlers = node.get("exception_handlers") or {}
    hname = handlers.get(child.get("exception_name")) or node.get("base_exception_handler")
    thread["task_runs"].append(tr)
    if hname is None:
        msg = f"Tried to wait for thread {tid} but it failed rather than succeeded!"
        complete_task(state, spec, thread, tr, HALTED,
                      {"stdout": None, "stderr": msg, "returncode": 1},
                      event["timestamp"], reason=SUBTHREAD_FAILURE)
    else:
        msg = (f"TaskRun on {tr['node_name']} failed; handling with "
               f"exception handler {hname}.")
        tr["status"] = HALTED
        tr["failure_reason"] = TASK_FAILURE
        tr["failure_message"] = msg
        tr["end_time"] = event["timestamp"]
        node_obj = node_of(spec, thread, tr["node_name"])
        unlock_variables(state, thread, node_obj)
        thread["up_next"] = []
        _edges_to_up_next(spec, thread, tr["node_name"])
        _start_interrupt_thread(state, spec, thread, hname, {}, is_exception=True)
    return True


def _activate_sleep(state, spec, thread, node, event, ctx: Ctx, attempt) -> bool:
    """activateSleepNode (ThreadRun.java:735-768)."""
    tr = new_task_run(thread, node, attempt)
    thread["task_runs"].append(tr)
    try:
        secs = _timeout_seconds(thread, state, spec, node)
        if secs is None:
            raise VarSubError("SLEEP node has no timeout_seconds")
        ctx.timers.append({
            "wf_run_id": state["id"],
            "thread_run_id": thread["id"],
            "task_run_id": tr["position"],
            "node_name": node["name"],
            "maturation_timestamp": event["timestamp"] + secs * 1000,
        })
    except VarSubError as e:
        fail_task(state, spec, thread, tr, INVALID_WF_SPEC_ERROR,
                  f"Failed calculating sleep seconds: {e}")
    thread["up_next"] = []
    return True


# ---------------------------------------------------------------------------
# advance (ThreadRun.java:606-668)
# ---------------------------------------------------------------------------

def advance_thread(state: dict, spec: dict, thread: dict, event: dict, ctx: Ctx) -> bool:
    if thread["status"] != RUNNING or not thread["up_next"]:
        return False

    should_clear = True
    activated_pair = None
    for pair in thread["up_next"]:
        try:
            passes = evaluate_condition(thread, state, spec, pair.get("condition"))
        except VarSubError as e:
            last_tr = thread["task_runs"][-1] if thread["task_runs"] else None
            if last_tr is None:
                halt_thread(state, thread, FAILED,
                            f"Failed evaluating entry condition: {e}")
            else:
                fail_task(state, spec, thread, last_tr, VARIABLE_LOOKUP_ERROR,
                          f"Failed substituting variable in condition: {e}")
            return True
        if passes:
            node = node_of(spec, thread, pair["sink_node_name"])
            if lock_variables(state, thread, node):
                activated_pair = pair
                break
            should_clear = False

    if activated_pair is None:
        if should_clear:
            thread["up_next"] = []
            return True
        return False

    node = node_of(spec, thread, activated_pair["sink_node_name"])
    return activate_node(state, spec, thread, node, event, ctx,
                         activated_pair["attempt"], activated_pair)


# ---------------------------------------------------------------------------
# Status updates (ThreadRun.java:505-549, WFRun.java:266-299)
# ---------------------------------------------------------------------------

def update_thread_status(state: dict, thread: dict) -> None:
    if thread_completed(thread):
        return
    if thread["status"] == RUNNING:
        if not thread["up_next"]:
            last = thread["task_runs"][-1] if thread["task_runs"] else None
            if last is None or task_terminated(last):
                thread["status"] = COMPLETED
    elif thread["status"] == HALTED:
        for tid in list(thread["active_interrupt_thread_ids"]):
            if tid >= len(state["thread_runs"]):
                continue
            handler = state["thread_runs"][tid]
            if thread_completed(handler):
                thread["active_interrupt_thread_ids"].remove(tid)
                thread["handled_interrupt_thread_ids"].append(tid)
        if INTERRUPT in thread["halt_reasons"] and not thread["active_interrupt_thread_ids"]:
            remove_halt_reason(state, thread, INTERRUPT)
    elif thread["status"] == HALTING:
        trs = thread["task_runs"]
        if not trs or task_terminated(trs[-1]):
            thread["status"] = HALTED


def update_statuses(state: dict, event: dict) -> bool:
    """Returns True iff any run/thread status changed — the fixpoint
    loop's convergence signal (replaces a before/after snapshot diff;
    same observable condition, no tuple allocation per iteration)."""
    changed = False
    threads = state["thread_runs"]
    for t in threads:
        before = t["status"]
        update_thread_status(state, t)
        if t["status"] != before:
            changed = True

    run_before = state["status"]
    if run_before == HALTING:
        if all(t["status"] != HALTING for t in threads):
            state["status"] = HALTED
    elif run_before == RUNNING:
        # One pass, early exit: completed ⊂ terminated, so a
        # non-terminated thread settles both answers at once.
        all_completed = all_terminated = True
        for t in threads:
            if not thread_completed(t):
                all_completed = False
                if not thread_terminated(t):
                    all_terminated = False
                    break
        if all_completed:
            state["status"] = COMPLETED
            state["end_time"] = event["timestamp"]
        elif all_terminated:
            state["status"] = HALTED
    return changed or state["status"] != run_before


# ---------------------------------------------------------------------------
# Event incorporation (WFRun.java:202-299, ThreadRun.java:271-398,1075-1140)
# ---------------------------------------------------------------------------

def _content(event: dict) -> dict:
    c = event.get("content")
    if isinstance(c, str):
        return json.loads(c) if c else {}
    return c or {}


def handle_task_event(state: dict, spec: dict, event: dict) -> None:
    # Poison guards, same stance as handle_timer_event: a malformed or
    # misrouted TASK_EVENT (out-of-range thread/position under
    # at-least-once delivery) is log-and-skip — an unattributable
    # corrupt event must not halt an innocent run INTERNAL_ERROR.
    tid = event.get("thread_id")
    if (not isinstance(tid, int) or isinstance(tid, bool)
            or not 0 <= tid < len(state["thread_runs"])):
        return
    thread = state["thread_runs"][tid]
    content = _content(event)
    pos = content.get("task_run_position")
    if (not isinstance(pos, int) or isinstance(pos, bool)
            or not 0 <= pos < len(thread["task_runs"])):
        return
    tr = thread["task_runs"][pos]
    if content.get("started_event") is not None:
        if task_terminated(tr):
            # A late/redelivered started event must NOT resurrect a
            # terminated attempt: flipping COMPLETED→RUNNING would let
            # a redelivered ended event slip past the idempotency
            # guard below and re-apply its mutations (double ADD), and
            # a slow worker's start arriving after a TIMEOUT would
            # revive the attempt the retry already replaced.  The
            # reference sets RUNNING unconditionally
            # (ThreadRun.java:292-301) — safe only under its Kafka
            # exactly-once transactions; this engine documents
            # at-least-once delivery, so the guard must cover BOTH
            # halves of the task lifecycle.
            return
        se = content["started_event"]
        tr["status"] = RUNNING
        tr["start_time"] = event["timestamp"]
        tr["worker_id"] = se.get("worker_id")
        tr["stdin"] = se.get("stdin")
    elif content.get("ended_event") is not None:
        ee = content["ended_event"]
        if tr["status"] not in (SCHEDULED, RUNNING):
            # Stale-result guard (ThreadRun.java:375-391) — and, beyond
            # the reference, a full idempotency guard: the reference
            # only drops TIMEOUT-stale results, so a duplicate-delivered
            # ended event would re-run completeTask and re-apply
            # mutations (double ADD).  With at-least-once event delivery
            # (Spark source replay) terminated tasks must ignore any
            # further results — BASELINE.md part B's "no duplicate
            # TaskRuns" target.
            return
        result = ee["result"]
        status = COMPLETED if result.get("success") else HALTED
        complete_task(state, spec, thread, tr, status, result, event["timestamp"])


def handle_external_event(state: dict, spec: dict, event: dict) -> None:
    """WFRun.handleExternalEvent (WFRun.java:157-200)."""
    payload = _content(event)
    if payload.get("external_event_def_name") is None:
        return  # poison record: no def name to attribute it to
    if payload["external_event_def_name"] in interrupt_events(spec):
        tid = event.get("thread_id", -1)
        if tid is None:
            tid = -1  # unaddressed: propagate from the root thread
        if not isinstance(tid, int) or isinstance(tid, bool):
            return  # garbled thread id: poison, log-and-skip
        if tid >= 0:
            if tid >= len(state["thread_runs"]):
                # Targets a thread this run does not have (delivered
                # before its SPAWN_THREAD, or garbled): log-and-skip,
                # same poison stance as handle_timer_event.
                return
            handle_interrupt(state, spec, state["thread_runs"][tid], payload)
        else:
            propagate_interrupt(state, spec, state["thread_runs"][0], payload)
    else:
        correls = state["correlated_events"].setdefault(
            payload["external_event_def_name"], []
        )
        correls.append({
            "event": payload,
            "arrival_time": event["timestamp"],
            "assigned_node_name": None,
            "assigned_task_run_position": None,
            "assigned_thread_id": None,
        })


def handle_timer_event(state: dict, spec: dict, event: dict) -> None:
    """WFRun.handleTimerEvent + ThreadRun.handleTimer
    (ThreadRun.java:1075-1140)."""
    timer = _content(event)
    if (not isinstance(timer, dict)
            or not isinstance(timer.get("thread_run_id"), int)
            or isinstance(timer.get("thread_run_id"), bool)
            or not isinstance(timer.get("task_run_id"), int)
            or isinstance(timer.get("task_run_id"), bool)
            or not 0 <= timer["thread_run_id"] < len(state["thread_runs"])
            or timer["task_run_id"] < 0):
        # Shape-invalid content (a poison record): key missing, a
        # non-int id, or a thread_run_id outside the run's threads —
        # there is no thread to attribute it to, so log-and-skip
        # semantics; halting the run would let one corrupt event kill
        # an innocent workflow.  (A WELL-FORMED timer naming an
        # unknown node still halts via the "Phantom timer." path
        # below — that one is attributable.)
        return
    thread = state["thread_runs"][timer["thread_run_id"]]
    trs = thread["task_runs"]
    task = trs[timer["task_run_id"]] if timer["task_run_id"] < len(trs) else None

    if task is None:
        # An EXTERNAL_EVENT node that never fired: fail the waiting
        # edge(s).  Iterate a SNAPSHOT — fail_task appends the retry
        # pair to the same up_next list, and iterating the live list
        # would visit the fresh pair, fail it, append another, and so
        # on without bound (the reference has the same live-iteration,
        # ThreadRun.java:1095-1106, where Java's for-each would throw
        # ConcurrentModificationException instead; there is no working
        # reference behavior for timeout+retries, so we define the
        # sane one: each matched WAIT fails once per timer firing).
        # The timed-out task carries the pair's attempt number so the
        # retry cap (`attempt < num_retries`) actually binds.
        matched = [p for p in list(thread["up_next"])
                   if p["sink_node_name"] == timer.get("node_name")]
        for p in matched:
            node = node_of(spec, thread, p["sink_node_name"])
            timed_out = new_task_run(thread, node, p.get("attempt") or 0)
            thread["task_runs"].append(timed_out)
            fail_task(state, spec, thread, timed_out, TIMEOUT,
                      "External event didn't come in time.")
        if matched:
            # Drop ONLY the pairs this timer consumed: fail_task's
            # retry pair (a fresh WAIT that re-arms its own timer on
            # activation) and any unrelated waiting edges survive —
            # clearing the whole list here would wipe the retry it
            # just scheduled and any exception-handler resume edges.
            thread["up_next"] = [p for p in thread["up_next"]
                                 if p not in matched]
        else:
            halt_thread(state, thread, FAILED, "Phantom timer.")
        return

    node = node_of(spec, thread, task["node_name"])
    if task_terminated(task):
        return  # late timer, nothing to do
    if node["node_type"] == "SLEEP":
        complete_task(state, spec, thread, task, COMPLETED,
                      {"stdout": None, "stderr": None, "returncode": 0},
                      timer["maturation_timestamp"])
    elif node["node_type"] in ("TASK", "WAIT_FOR_THREAD", "EXTERNAL_EVENT"):
        # Release the locks activation acquired BEFORE failing —
        # complete_task (the normal unlock site) is bypassed here, and
        # a timed-out task that kept its locks would deadlock its own
        # exception handler and any sibling thread needing the
        # variable.  (The reference's failTask has the same leak,
        # ThreadRun.java:455-484 — divergence ledgered in COVERAGE.)
        unlock_variables(state, thread, node)
        fail_task(state, spec, thread, task, TIMEOUT, "taskRun timed out!")


def incorporate_event(state: dict, spec: dict, event: dict) -> None:
    et = event["event_type"]
    if et == "EXTERNAL_EVENT":
        handle_external_event(state, spec, event)
    elif et == "TASK_EVENT":
        handle_task_event(state, spec, event)
    elif et == "WF_RUN_STOP_REQUEST":
        tid = event.get("thread_id") or 0
        tid = tid if tid >= 0 else 0
        if tid == 0 and state["status"] == RUNNING:
            state["status"] = HALTING
        if tid < len(state["thread_runs"]):
            halt_thread(state, state["thread_runs"][tid], MANUAL_STOP,
                        "Manual halt of this thread requested.")
    elif et == "WF_RUN_RESUME_REQUEST":
        tid = event.get("thread_id") or 0
        tid = tid if tid >= 0 else 0
        if tid == 0 and state["status"] != COMPLETED:
            state["status"] = RUNNING
        if tid < len(state["thread_runs"]):
            remove_halt_reason(state, state["thread_runs"][tid], MANUAL_STOP)
    elif et == "TIMER_EVENT":
        handle_timer_event(state, spec, event)


def new_run(spec: dict, event: dict) -> dict:
    """WFSpec.newRun (WFSpec.java:221-251)."""
    req = _content(event)
    state = {
        "id": event["wf_run_id"],
        "wf_spec_id": event.get("wf_spec_id") or spec.get("id"),
        "wf_spec_name": event.get("wf_spec_name") or spec.get("name"),
        "status": RUNNING,
        "start_time": event["timestamp"],
        "end_time": None,
        "error_code": None,
        "error_message": None,
        "correlated_events": {},
        "thread_runs": [],
    }
    create_thread(state, spec, spec["entrypoint_thread_name"],
                  req.get("variables") or {}, None)
    return state


# ---------------------------------------------------------------------------
# The fold entrypoint (SchedulerProcessor.java:63-237)
# ---------------------------------------------------------------------------

TaskExecutor = Callable[[str, dict], dict | None]
"""Inline task executor: (task_def_name, variable_substitutions) ->
TaskRunResult dict {"stdout", "stderr", "success", "returncode"},
or ``None`` for a task that starts but never reports (its timeout
timer terminates it — see `_drain_inline`).  Used in batch-oracle
mode (SURVEY §2.11: inline tasks) so a run is a pure function of its
WF_RUN_STARTED event."""


def make_spec_registry(specs: list[dict]) -> dict:
    """Multi-spec registry addressable by spec id AND name.

    The reference deploys one scheduler app per WFSpec
    (`Scheduler.java:29-47`); this engine runs every spec in one
    stream — a run pins its spec version at start (`wfSpecDigest`,
    WFRun.java:45) and later events resolve through the pinned id.
    """
    reg: dict = {"__multi__": True}
    for s in specs:
        reg[s["id"]] = s
        reg.setdefault(s["name"], s)
    return reg


def resolve_spec(spec_or_registry: dict, state: dict | None, event: dict) -> dict | None:
    """Single spec passes through; a registry resolves via the run's
    pinned spec id (state) or the event's spec id/name."""
    if "thread_specs" in spec_or_registry:
        return spec_or_registry
    for key in (
        (state or {}).get("wf_spec_id"),
        event.get("wf_spec_id"),
        event.get("wf_spec_name"),
    ):
        if key and key in spec_or_registry:
            return spec_or_registry[key]
    return None


def process_event(spec: dict, state: dict | None, event: dict,
                  executor: TaskExecutor | None = None) -> tuple[dict | None, Ctx]:
    """One scheduler step: fold a single event into run state and
    advance to fixpoint.  Returns (state', ctx-with-outputs).

    With `executor` set, scheduled tasks are executed inline and their
    started/ended events folded immediately (drained to quiescence) —
    the deterministic batch mode used for oracle parity.

    `spec` may also be a `make_spec_registry` dict — the multi-spec
    engine: the run resolves its pinned spec; events naming an unknown
    spec are dropped."""
    ctx = Ctx()
    resolved = resolve_spec(spec, state, event)
    if resolved is None:
        return state, ctx  # unknown spec: drop
    spec = resolved
    try:
        if event["event_type"] == "WF_RUN_STARTED":
            if state is not None:
                return state, ctx  # duplicate start: ignore
            state = new_run(spec, event)
        else:
            if state is None:
                return None, ctx  # event for unknown run: drop
            incorporate_event(state, spec, event)

        _advance_to_fixpoint(spec, state, event, ctx)

        if executor is not None:
            _drain_inline(spec, state, event, ctx, executor)
    except Exception as e:  # noqa: BLE001 — error containment:
        # any engine bug halts the run (SchedulerProcessor.java:67-85)
        if state is not None:
            state["status"] = HALTED
            state["error_code"] = INTERNAL_ERROR
            state["error_message"] = str(e)
    return state, ctx


def _advance_to_fixpoint(spec: dict, state: dict, event: dict, ctx: Ctx) -> None:
    """The fixpoint loop (SchedulerProcessor.java:170-187).

    Stronger termination condition than the reference: we also loop
    when `update_statuses` changed any status without a thread
    advancing.  The reference stalls when a HALTING parent transitions
    HALTED→RUNNING (interrupt handler finished + sleep matured in one
    event) because `shouldAdvance` only tracks advance() — its own
    comment at SchedulerProcessor.java:174-178 wrestles with exactly
    this; the harness test interrupts.py:53-82 defines the intended
    outcome (parent resumes and completes), which this loop produces.
    """
    # One status pass up front; thereafter state is unchanged between an
    # iteration's trailing update_statuses and the next iteration's start,
    # so a leading per-iteration pass would be a no-op repeat.
    update_statuses(state, event)
    should = True
    guard = 0
    while should:
        guard += 1
        if guard > 100000:
            raise RuntimeError("fixpoint did not converge")
        did = False
        for i in range(len(state["thread_runs"])):  # list may grow
            did = advance_thread(state, spec, state["thread_runs"][i], event, ctx) or did
        # advance_thread returns False only on no-mutation paths, so
        # `did or statuses-changed` is exactly the old snapshot diff.
        should = update_statuses(state, event) or did


def _drain_inline(spec: dict, state: dict, event: dict, ctx: Ctx,
                  executor: TaskExecutor) -> None:
    """Execute scheduled tasks inline until quiescence (batch mode).

    An executor may return ``None`` for a task it picks up but never
    answers (the reference's `slow_task` out-waited by its timeout,
    `shared_tasks.py:18-20`): only the started event is folded, the
    task stays RUNNING, and the timeout timer armed at scheduling is
    what terminates it — the TIMER_EVENT → `fail_task(TIMEOUT)` path,
    exactly as with a detached worker."""
    guard = 0
    while ctx.to_schedule:
        guard += 1
        if guard > 10000:
            raise RuntimeError("inline executor did not quiesce")
        batch, ctx.to_schedule = ctx.to_schedule, []
        for tsr in batch:
            result = executor(tsr["task_def_name"], tsr["variable_substitutions"])
            subs = ("started",) if result is None else ("started", "ended")
            for sub in subs:
                content = {
                    "thread_id": tsr["thread_id"],
                    "task_run_position": tsr["task_run_position"],
                }
                if sub == "started":
                    content["started_event"] = {
                        "worker_id": "inline",
                        "stdin": None,
                    }
                else:
                    content["ended_event"] = {"result": {
                        "stdout": result.get("stdout"),
                        "stderr": result.get("stderr"),
                        "success": bool(result.get("success", True)),
                        "returncode": result.get("returncode", 0),
                    }}
                ev = {
                    "wf_run_id": state["id"],
                    "event_type": "TASK_EVENT",
                    "thread_id": tsr["thread_id"],
                    "timestamp": event["timestamp"],
                    "content": content,
                }
                incorporate_event(state, spec, ev)
            _advance_to_fixpoint(spec, state, event, ctx)


def fold_events(spec: dict, events: list[dict],
                executor: TaskExecutor | None = None) -> tuple[dict | None, list[dict], list[dict]]:
    """Fold a run's full (offset-ordered) event list; returns
    (final_state, all_schedule_requests, all_timers)."""
    state: dict | None = None
    schedules: list[dict] = []
    timers: list[dict] = []
    for ev in sorted(events, key=lambda e: e.get("offset", 0)):
        state, ctx = process_event(spec, state, ev, executor=executor)
        schedules.extend(ctx.to_schedule)
        timers.extend(ctx.timers)
    return state, schedules, timers
