"""Correctness checks, run after the timed region. Each returns a list of
(name, ok, detail); a failed check counts against error_rate."""

import glob
import os

import duckdb
import pyarrow.parquet as pq


def _result(name, ok, detail=""):
    return (name, bool(ok), detail)


def check_ingest(gen, rec):
    out = []
    tally = gen["tally"]
    got = {r[0]: [r[1], r[2], r[3]] for r in rec["finish"]["per_user"]}
    out.append(_result("ingest.row_count", sum(v[0] for v in got.values()) == tally["rows"],
                       f"{sum(v[0] for v in got.values())} vs {tally['rows']}"))
    bad = [u for u, v in tally["per_user"].items() if got.get(u) != v]
    out.append(_result("ingest.per_user_counts_and_bounds", not bad and len(got) == len(tally["per_user"]),
                       f"{len(bad)} users differ"))
    files = rec["finish"]["files"]
    over = [f for f, n, _ in files if n > 4096]
    out.append(_result("ingest.rows_per_file", not over, f"{len(over)} files over 4096 rows"))
    # each file honours the layout contract of the path that wrote it: an
    # ingest commit writes (user_id, timestamp)-ordered blocks; compaction
    # re-clusters by the table's declared layout, PARTITIONED BY (user_id),
    # so its files keep each user contiguous
    unsorted, unclustered, compacted_ts = 0, 0, 0
    for path, _, note in files:
        t = pq.read_table(path.replace("file:", ""), columns=["user_id", "timestamp"])
        keys = list(zip(t.column("user_id").to_pylist(), t.column("timestamp").to_pylist()))
        ordered = all(keys[i] <= keys[i + 1] for i in range(len(keys) - 1))
        users = [u for u, _ in keys]
        runs = sum(1 for i in range(len(users)) if i == 0 or users[i] != users[i - 1])
        if note == "autocompact":
            unclustered += runs != len(set(users))
            compacted_ts += not ordered
        elif not ordered:
            unsorted += 1
    out.append(_result("ingest.commit_files_key_ordered", unsorted == 0,
                       f"{unsorted} commit files out of (user_id, timestamp) order"))
    out.append(_result("ingest.compacted_files_clustered_by_user", unclustered == 0,
                       f"{unclustered} compacted files split a user"))
    out.append(_result("ingest.files_with_known_note", all(n is not None for _, _, n in files),
                       "every live file's commit is in the retained history"))
    notes = {"compacted_files_not_timestamp_ordered": compacted_ts}
    return out, notes


def query_model(gen):
    """DuckDB model of the query table's history over the generated files:
    `h` holds every appended row with its history step, `d` every deleted
    key with the step that deleted it."""
    con = duckdb.connect()
    parts = []
    deletes = []
    for i, h in enumerate(gen["history"]):
        if h["kind"] == "append":
            parts.append(f"SELECT *, {i} AS _step FROM read_parquet('{h['file']}')")
        else:
            deletes.append((i, h["keys"]))
    con.sql("CREATE TABLE h AS " + " UNION ALL ".join(parts))
    con.sql("CREATE TABLE d (_step INTEGER, k BIGINT)")
    for i, keys in deletes:
        con.sql(f"INSERT INTO d SELECT {i}, UNNEST([{', '.join(map(str, keys))}])")
    return con


def _state(step):
    # rows visible at history step `step`
    return (f"(SELECT * FROM h WHERE _step <= {step} AND NOT EXISTS "
            f"(SELECT 1 FROM d WHERE d.k = h.\"timestamp\" AND d._step > h._step "
            f"AND d._step <= {step}))")


def check_query(gen, rec):
    snaps = rec["finish"]["snaps"]
    con = query_model(gen)
    head = len(gen["history"]) - 1
    warm = gen["warm_ops"]
    wrong, checked = [], 0
    for op, o in zip(rec["ops"], gen["ops"][warm:]):
        if not op["ok"]:
            continue
        sql = o["sql"].replace("`", '"')
        step = head
        if "{SNAP:" in sql:
            k = int(sql.split("{SNAP:")[1].split("}")[0])
            step = k
            sql = sql.replace("VERSION AS OF {SNAP:%d} " % k, "")
        if o["kind"] == "history":
            exp = [[snaps[i], pq.read_metadata(h["file"]).num_rows if h["kind"] == "append" else 0]
                   for i, h in enumerate(gen["history"])]
            got = [list(r) for r in op["answer"]]
            ok = got == exp
        else:
            q = sql.replace("{T}", _state(step))
            exp = [list(r) for r in con.sql(q).fetchall()]
            got = [list(r) for r in op["answer"]]
            if "ORDER BY" not in sql:
                exp, got = sorted(exp), sorted(got)
            ok = exp == got
        checked += 1
        if not ok:
            wrong.append(op["id"])
    out = [_result("query.answers_match_duckdb", not wrong,
                   f"{len(wrong)} of {checked} answers differ (ops {wrong[:5]})")]
    return out, {"wrong_ops": wrong, "mv_hits": sum(bool(op.get("mv_hit")) for op in rec["ops"])}


def check_upsert(gen, rec):
    out = []
    warm = gen["warm_steps"]
    wrong = []
    for op, step in zip(rec["ops"], gen["steps"][warm:]):
        if op["ok"] and sorted(list(r) for r in op["answer"]) != step["expect_mv"]:
            wrong.append(op["id"])
    out.append(_result("upsert.mv_answers_match_model", not wrong, f"steps {wrong[:5]} differ"))
    served = sorted(list(r) for r in rec["finish"]["served"])
    recomputed = sorted(list(r) for r in rec["finish"]["recomputed"])
    out.append(_result("upsert.mv_equals_recompute_without_rewrite", served == recomputed,
                       f"{served[:2]} vs {recomputed[:2]}"))
    files = glob.glob(os.path.join(rec["finish"]["final_dir"], "*.parquet"))
    t = pq.read_table(files, columns=["id", "grp", "uid", "amount", "ver"]) if files else None
    final = sorted(map(list, zip(*[t.column(c).to_pylist() for c in t.column_names]))) if t else []
    out.append(_result("upsert.final_table_equals_model", final == gen["final"],
                       f"{len(final)} rows vs {gen['final_rows']}"))
    return out, {"wrong_steps": wrong}


def check_curate(gen, rec):
    docs = set()
    for f in gen["files"]:
        docs.update(pq.read_table(f, columns=["doc_id"]).column("doc_id").to_pylist())
    kept = set(rec["finish"]["kept"])
    dropped = docs - kept
    planted = {int(k): v for k, v in gen["planted"].items()}
    false_drops = [d for d in dropped if d not in planted]
    exact = [d for d, v in planted.items() if v[1] == "exact"]
    recall = len(dropped & set(planted)) / max(1, len(planted))
    return [
        _result("curate.no_false_drops", not false_drops, f"{len(false_drops)} false drops"),
        _result("curate.no_unknown_docs", kept <= docs, f"{len(kept - docs)} unknown ids kept"),
        _result("curate.exact_dup_recall", all(d in dropped for d in exact),
                f"{sum(d in dropped for d in exact)}/{len(exact)}"),
        _result("curate.planted_recall_ge_0.9", recall >= 0.9, f"recall {recall:.3f}"),
    ], {"planted_recall": round(recall, 4)}
