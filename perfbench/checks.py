"""Correctness checks run after the timed region.

Every expected value here is recomputed independently of the program:
from the delivered input files (LWW over clean message events, the bad
lines that must reach `logs`) or by DuckDB over the parquet files the
catalog's current manifests list.
"""
import base64
import glob
import hashlib
import json
import os

import duckdb
import pyarrow as pa
from cryptography.hazmat.primitives.ciphers.aead import AESGCM

import gen


def manifest_files(root, table):
    """Parquet files of a catalog table's current version."""
    tdir = os.path.join(root, table)
    cur = os.path.join(tdir, "_CURRENT")
    if not os.path.exists(cur):
        return []
    v = open(cur).read().strip()
    files = []
    for line in open(os.path.join(tdir, f"v{v}", "_MANIFEST")).read().splitlines():
        if line.strip():
            rel = line.split("\t")[1]
            files += sorted(glob.glob(os.path.join(tdir, rel, "**", "*.parquet"), recursive=True))
    return files


def connect(root, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        files = manifest_files(root, t)
        if files:
            lst = ", ".join(f"'{f}'" for f in files)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{lst}])")
    return con


def expected_from_inputs(paths):
    """Replay the delivered files in order: (messages by event_id, log
    messages). Later deliveries win, exactly the stream's batch-wins rule;
    redelivered lines are byte-identical, so order inside a batch does not
    matter for the result."""
    key = gen.derive_key()
    msgs, logs = {}, []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f.read().split("\n"):
                if not line:
                    continue
                try:
                    ev = json.loads(line)
                    ok = isinstance(ev, dict) and all(
                        ev.get(k) is not None for k in ("event_id", "room_id", "sender", "origin_server_ts"))
                except ValueError:
                    ok = False
                if not ok:
                    logs.append(f"$corrupt-{hashlib.md5(line.encode()).hexdigest()}: {line}")
                    continue
                if ev["event_type"] != "m.room.message" or ev.get("to_start_of_timeline"):
                    continue
                content = ev["content"]
                if ev.get("is_encrypted"):
                    raw = base64.b64decode(content)
                    try:
                        content = AESGCM(key).decrypt(raw[:12], raw[12:], None).decode()
                    except Exception:
                        logs.append(f"{ev['event_id']}: decrypt_failed: AES-GCM authentication")
                        continue
                msgs[ev["event_id"]] = (
                    hashlib.md5(ev["event_id"].encode()).hexdigest(), ev["event_id"], ev["room_id"],
                    ev["sender"], content, ev["event_type"], ev["origin_server_ts"],
                    bool(ev.get("is_encrypted")), ev.get("relates_to"), None)
    return msgs, logs


def check_sync(res, failures):
    root = res["catalog"]
    con = connect(root, ["messages", "participants", "rooms", "sync_state", "logs"])
    msgs, logs = expected_from_inputs(res["delivered"])
    names = ["id", "event_id", "room_id", "sender", "content", "event_type", "timestamp",
             "is_encrypted", "relates_to", "error"]
    types = [pa.string()] * 6 + [pa.int64(), pa.bool_(), pa.string(), pa.string()]
    rows = list(msgs.values())
    con.register("expect", pa.table({n: pa.array([r[i] for r in rows], t)
                                     for i, (n, t) in enumerate(zip(names, types))}))
    cols = 'id, event_id, room_id, sender, content, event_type, "timestamp", is_encrypted, relates_to, error'
    extra = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM messages EXCEPT ALL SELECT {cols} FROM expect)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM expect EXCEPT ALL SELECT {cols} FROM messages)").fetchone()[0]
    if extra or missing:
        failures.append(f"messages differ from LWW recomputation: {extra} unexpected, {missing} missing")
    got_logs = sorted(r[0] for r in con.execute("SELECT message FROM logs").fetchall())
    if got_logs != sorted(logs):
        failures.append(f"logs hold {len(got_logs)} rows, expected the {len(logs)} tampered+corrupt events")
    tok = con.execute("SELECT next_batch FROM sync_state ORDER BY created_at DESC, next_batch DESC LIMIT 1").fetchone()
    want = f"batch-{res['last_batch_id']:012d}"
    if not tok or tok[0] != want:
        failures.append(f"latest sync_state token {tok} != last batch {want}")
    if not res["replay"]["ok"]:
        failures.append(f"replaying committed events changed the catalog: {res['replay']}")
    return con


def _rows(con, sql, params=()):
    cur = con.execute(sql, params)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def _norm(v):
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items() if x is not None}
    if isinstance(v, list):
        return [_norm(x) for x in v]
    return v


def _spark(rows):
    return [_norm(json.loads(r)) for r in rows]


def _sorted_lists(rows, key, sort_by):
    for r in rows:
        if key in r:
            r[key] = sorted(r[key], key=lambda x: tuple(str(x.get(k)) for k in sort_by))
    return rows


def check_api(con, res, failures):
    """Each route's final-snapshot answer against DuckDB over the
    manifest-listed files, and keyset pages against the sorted history."""
    ans = res["answers"]
    us = "epoch_us"
    expect = {
        "stats": _rows(con, f"""SELECT (SELECT count(*) FROM messages) AS total_messages,
            (SELECT count(*) FROM rooms) AS total_rooms,
            (SELECT sum(CASE WHEN is_encrypted THEN 1 ELSE 0 END) FROM rooms) AS encrypted_rooms,
            (SELECT count(*) FROM participants) AS total_participants,
            (SELECT {us}(max(created_at)) FROM sync_state) AS last_sync"""),
        "listRooms": _rows(con, f"""SELECT r.room_id, name, topic, membership, is_encrypted, created_ts,
            avatar_url, {us}(last_updated) AS last_updated, {us}(created_at) AS created_at,
            m.last_message_timestamp
            FROM rooms r LEFT JOIN (SELECT room_id, max("timestamp") AS last_message_timestamp
                                    FROM messages GROUP BY 1) m USING (room_id)
            ORDER BY m.last_message_timestamp DESC NULLS LAST, r.room_id"""),
        "listUsers": _rows(con, """SELECT user_id, display_name, avatar_url FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY last_updated DESC, room_id DESC) rn
            FROM participants) WHERE rn = 1 ORDER BY display_name, user_id"""),
        "logsTail": _rows(con, f"""SELECT {us}("timestamp") AS "timestamp", level, message FROM logs
            ORDER BY "timestamp" DESC, message LIMIT 100"""),
        "configSingleton": _rows(con, f"""SELECT id, next_batch, {us}(created_at) AS created_at
            FROM sync_state ORDER BY created_at DESC, next_batch DESC LIMIT 1"""),
    }
    for route, rows in expect.items():
        if _spark(ans[route]) != _norm(rows):
            failures.append(f"api {route} differs from DuckDB over the snapshot")
    for room, rows in ans["roomDetail"].items():
        want = _rows(con, f"""SELECT r.room_id, name, topic, membership, is_encrypted, created_ts, avatar_url,
            {us}(last_updated) AS last_updated, {us}(created_at) AS created_at, p.participants
            FROM rooms r LEFT JOIN (SELECT room_id, list({{'user_id': user_id, 'display_name': display_name,
                'avatar_url': avatar_url, 'membership': membership}}) AS participants
                FROM participants WHERE room_id = ? GROUP BY 1) p USING (room_id)
            WHERE r.room_id = ?""", (room, room))
        sb = ("user_id", "membership", "display_name")
        if _sorted_lists(_spark(rows), "participants", sb) != _sorted_lists(_norm(want), "participants", sb):
            failures.append(f"api roomDetail({room}) differs from DuckDB")
    for user, rows in ans["userDetail"].items():
        want = _rows(con, """SELECT user_id, list({'room_id': p.room_id, 'name': name, 'topic': topic}) AS rooms
            FROM participants p JOIN rooms r USING (room_id) WHERE user_id = ? GROUP BY 1""", (user,))
        sb = ("room_id", "name", "topic")
        if _sorted_lists(_spark(rows), "rooms", sb) != _sorted_lists(_norm(want), "rooms", sb):
            failures.append(f"api userDetail({user}) differs from DuckDB")
    for room, ids in ans["pages"].items():
        want = [r[0] for r in con.execute("""SELECT event_id FROM messages WHERE room_id = ?
            ORDER BY "timestamp" DESC, event_id DESC""", (room,)).fetchall()]
        if ids != want:
            failures.append(f"keyset pages of {room} do not concatenate to its sorted history "
                            f"({len(ids)} vs {len(want)} events)")


def rows_hash(rows):
    canon = sorted(json.dumps(r, sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def check_corpus(res, docs_dir, cache_path, failures):
    """Packed rows of the last timed run against the oracle SQL run by
    DuckDB on the same corpus; the caller keys the cached oracle hash on
    the corpus fingerprint and the SQL."""
    if os.path.exists(cache_path):
        want = json.load(open(cache_path))["hash"]
    else:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/documents.parquet')")
        rows = [{k: (int(v) if isinstance(v, int) else v) for k, v in r.items()}
                for r in _rows(con, res["oracle_sql"])]
        want = rows_hash(rows)
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as f:
            json.dump({"hash": want, "rows": len(rows)}, f)
    got = rows_hash([json.loads(r) for r in res["packed"]])
    if got != want:
        failures.append("pipe_corpus_end2end result differs from the DuckDB oracle")
