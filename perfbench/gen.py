"""Seeded input generation for the benchmark workloads.

Every input derives from the fixture tables; nothing is fetched.
The same seed gives byte-identical files (DuckDB runs single-threaded,
Python draws from `random.Random(seed)`), a different seed gives
different files. The engine sees only the files written here.
"""
import json
import os
import random

import duckdb

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]
# Bounded dimensions keep their row order; every other table is rotated.
FIXED_ORDER = {"region", "nation"}


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET preserve_insertion_order = true")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def rotated_fixture(src, dst, seed):
    """The fixture tables, each table's rows rotated by a seeded offset.

    Same rows and content, so the scale is the fixture's; the physical
    order (and so file layout, row-group stats, first rows seen) changes
    with the seed."""
    os.makedirs(dst, exist_ok=True)
    rnd = random.Random(seed)
    con = _con()
    params = {}
    for t in FIXTURE_TABLES:
        p = f"read_parquet('{src}/{t}.parquet')"
        if t in FIXED_ORDER:
            _copy(con, f"SELECT * FROM {p}", f"{dst}/{t}.parquet")
            continue
        n = con.execute(f"SELECT count(*) FROM {p}").fetchone()[0]
        k = rnd.randrange(n)
        params[f"rotate.{t}"] = k
        _copy(con, f"""SELECT * EXCLUDE (rn) FROM (
                         SELECT *, row_number() OVER () - 1 AS rn FROM {p})
                       ORDER BY (rn + {n} - {k}) % {n}""", f"{dst}/{t}.parquet")
    return params


def _envelope_tail(event_type, user_id, value):
    """An envelope line after its event id, as KafkaIO.toEnvelope
    serializes it: `{"data":{"event_id":<id>` + tail."""
    return (f',"event_type":"{event_type}","user_id":{user_id},"value":{value!r}}}'
            f',"source":"database"}}')


def stream_plan(src, dst, seed, rates, steps_s, drain_events, files_per_s,
                drain_files, dup_share, allow_share, trigger_ms, timeout_s, trace_block_s):
    """Envelope JSONL files and their landing schedule for stream_import.

    Phases, in order: a cold backlog drain, then for each rate a step that
    lands `files_per_s` files a second for its `steps_s` seconds followed
    by a warm backlog drain. Event ids increase with the file names (the
    source's name watermark and the dedup's event time both rely on it).
    A seeded `dup_share` of the events is redelivered one or two files
    later; the exactly-once sink must hold each allowed event once.

    Every file says whether a traced run listens while it lands: drains
    always, rate steps in alternating blocks of `trace_block_s` seconds,
    so traced and untraced micro-batches of the same rate give the
    tracing overhead.
    Returns (plan, expected) where expected is the set of event ids the
    sink must hold."""
    staged = os.path.join(dst, "staged")
    os.makedirs(staged, exist_ok=True)
    rnd = random.Random(seed)
    con = _con()
    base = con.execute(f"""SELECT event_id, event_type, user_id, value
                           FROM read_parquet('{src}/events.parquet')
                           ORDER BY event_id""").fetchall()
    stride = base[-1][0] + 1
    users = sorted({r[2] for r in base})
    allowed = set(rnd.sample(users, int(len(users) * allow_share)))
    con.execute("CREATE TABLE allow(user_id BIGINT)")
    con.executemany("INSERT INTO allow VALUES (?)", [(u,) for u in sorted(allowed)])
    _copy(con, "SELECT * FROM allow ORDER BY user_id", f"{dst}/allow.parquet")

    # event i of the stream is base row i % len(base), its id shifted by
    # a stride per lap, so ids stay unique and increasing
    ids = [r[0] for r in base]
    tails = [_envelope_tail(r[1], r[2], r[3]) for r in base]
    keep = [r[2] in allowed for r in base]
    cursor = [0]
    phases = []
    expected = set()
    seq = [0]
    pending_dups = []  # (file index due, line)

    def add_file(n, due_ms, traced):
        idx = seq[0]
        seq[0] += 1
        nb = len(base)
        ev = [(ids[i % nb] + (i // nb) * stride, i % nb) for i in range(cursor[0], cursor[0] + n)]
        cursor[0] += n
        lines = [f'{{"data":{{"event_id":{eid}{tails[k]}' for eid, k in ev]
        expected.update(eid for eid, k in ev if keep[k])
        for j in [j for j in range(n) if rnd.random() < dup_share]:
            pending_dups.append((idx + rnd.randint(1, 2), lines[j]))
        lines += [ln for (at, ln) in pending_dups if at <= idx]
        pending_dups[:] = [(at, ln) for (at, ln) in pending_dups if at > idx]
        name = f"f{idx:07d}.jsonl"
        with open(os.path.join(staged, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        return {"name": name, "due_ms": due_ms, "events": len(lines), "traced": traced}

    def drain(name):
        per = drain_events // drain_files
        phases.append({"name": name, "kind": "drain", "timeout_s": timeout_s,
                       "files": [add_file(per, 0.0, True) for _ in range(drain_files)]})

    drain("drain0")
    for i, (rate, step_s) in enumerate(zip(rates, steps_s), 1):
        per = max(1, round(rate / files_per_s))
        files = []
        for j in range(int(step_s * files_per_s)):
            due = j * 1000.0 / files_per_s
            files.append(add_file(per, due, int(due / 1000.0 / trace_block_s) % 2 == 0))
        phases.append({"name": f"r{i}", "kind": "rate", "rate_eps": rate,
                       "timeout_s": timeout_s, "files": files})
        drain(f"drain{i}")
    # redeliveries still pending after the last file land with final ones
    while pending_dups:
        phases[-1]["files"].append(add_file(0, 0.0, True))
    plan = {"staged_dir": staged, "allow": f"{dst}/allow.parquet",
            "trigger_ms": trigger_ms, "phases": phases}
    with open(os.path.join(dst, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan, expected
