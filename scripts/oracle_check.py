#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: oracle_check.py <sfDir> <verifyOutDir>

Reads each <outDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB with the
sf tables registered as views, and compares: column names (sorted),
row count, and cell values (exact, plus a sorted-rows fallback report).

With --json <path>, also writes a machine-readable per-gate artifact in
the driver's CORRECTNESS shape ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}) — the committed self-check
that keeps a round verifiable when the driver's own artifact capture
hiccups (CORRECTNESS_r14.json arrived as an empty object).
"""
import duckdb, json, sys, glob, os, math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)

def host_mem_total():
    """The host's MemTotal as printed by /proc/meminfo, or "unknown"."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return "%.1f GiB" % (int(line.split()[1]) / 2**20)
    except OSError:
        pass
    return "unknown"

# DuckDB running out of memory is a limit of the host (or of --memlimit),
# not a verdict on the gate, so its board line says so; it still counts
# as not passing
OOM = "ORACLE_OOM (host limit)"

def is_oom(e):
    return isinstance(e, duckdb.OutOfMemoryException) or \
        "Out of Memory" in str(e)

def rows_of(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    names = [cols[i] for i in order]
    types = [str(rel.types[i]) for i in order]
    data = [tuple(norm_cell(r[i]) for i in order) for r in rel.fetchall()]
    return names, types, data

def main():
    argv = sys.argv[1:]
    args, skip = [], False
    for i, a in enumerate(argv):
        if skip:
            skip = False
            continue
        if a in ("--json", "--timeout", "--only", "--threads", "--memlimit",
                 "--tmpdir", "--witness"):
            skip = True
        elif not a.startswith("--"):
            args.append(a)
    sfdir, outdir = args[0], args[1]
    json_out = None
    if "--json" in argv:
        json_out = argv[argv.index("--json") + 1]
    # per-oracle wall-clock bound (seconds): a pathological DuckDB plan
    # (e.g. a recursive tokenizer chain at a big sf) must not hang the
    # sweep — con.interrupt() aborts the running query cleanly
    timeout = None
    if "--timeout" in argv:
        timeout = float(argv[argv.index("--timeout") + 1])
    def setup_con():
        c = duckdb.connect()
        # --threads/--memlimit: cap this process's DuckDB so several
        # oracle_check workers can run side by side (the expensive sf1
        # oracles are recursive CTEs — mostly single-threaded per query, so
        # gate-level parallelism across processes is the real speedup)
        if "--threads" in argv:
            c.sql(f"SET threads={int(argv[argv.index('--threads') + 1])}")
        if "--memlimit" in argv:
            c.sql(f"SET memory_limit='{argv[argv.index('--memlimit') + 1]}'")
        # --tmpdir: per-worker spill directory. Parallel in-memory DuckDB
        # processes sharing a cwd share `.tmp/duckdb_temp_storage-*` — one
        # worker crashing corrupts every sibling's spill (observed: OOM
        # "Failed to allocate block" on oracles that spill fine alone).
        if "--tmpdir" in argv:
            td = argv[argv.index("--tmpdir") + 1]
            os.makedirs(td, exist_ok=True)
            c.sql(f"SET temp_directory='{td}'")
        # --noorder: drop DuckDB's insertion-order guarantee — a large
        # memory saver on deep CTE chains (operators parallelize and stream
        # instead of buffering to preserve order). Safe ONLY because every
        # oracle in this repo ends with a deterministic ORDER BY; the exact
        # ordered compare below would catch any oracle that didn't.
        if "--noorder" in argv:
            c.sql("SET preserve_insertion_order=false")
        for t in TABLES:
            if os.path.exists(f"{sfdir}/{t}.parquet"):
                c.sql(f"CREATE VIEW {t} AS "
                      f"SELECT * FROM '{sfdir}/{t}.parquet'")
        return c
    con = setup_con()

    def timed(fn):
        if not timeout:
            return fn()
        import threading
        done = threading.Event()
        def killer():
            if not done.wait(timeout):
                try:
                    con.interrupt()
                except Exception:
                    pass
        t = threading.Thread(target=killer, daemon=True)
        t.start()
        try:
            return fn()
        finally:
            done.set()

    oracles = json.load(open(f"{outdir}/oracle_sql.json"))
    results = {}
    records = {}  # driver-shaped per-gate verdicts for --json
    def rec(name, rows_match=False, schema_match=False, hash_match=False,
            spark_rows=None, oracle_rows=None, err=None, **extra):
        records[name] = {"rows_match": rows_match,
                         "schema_match": schema_match,
                         "hash_match": hash_match,
                         "spark_rows": spark_rows,
                         "oracle_rows": oracle_rows, "err": err, **extra}
        # flush after EVERY gate: a big-sf sweep worker that dies mid-run
        # (OOM killer, MemoryError on a huge fetchall) must not lose the
        # gates it already verified
        if json_out:
            with open(json_out, "w") as f:
                json.dump(records, f, indent=1, sort_keys=True)
    dumped = {n for n in os.listdir(outdir)
              if os.path.isdir(os.path.join(outdir, n))}
    expected = set(oracles)
    # --only a,b,c: check just these gates (parallel-worker slicing)
    if "--only" in argv:
        only = set(argv[argv.index("--only") + 1].split(","))
        dumped &= only
        expected &= only
    # a gate that failed inside graft.Verify leaves NO dump directory —
    # without this it would silently vanish from the report entirely.
    # --subset: the Verify run was deliberately filtered to a few gates
    # (local iteration), so missing dumps are expected, not failures.
    if "--subset" not in sys.argv:
        for name in sorted(expected - dumped):
            results[name] = "NO_SPARK_DUMP (gate failed in Verify?)"
            rec(name, err="no spark dump")
    # --witness a,b,c (or "all"): witness-mode compare for gates whose
    # full-result oracle replay exceeds the box (the sf1/sf10 stragglers:
    # recursive-CTE oracles OOMing a 95 GB DuckDB or timing out while
    # buffering/fetching millions of rows). Instead of materializing both
    # result sets client-side, compare three in-database aggregates:
    #   - schema: DESCRIBE both sides (no execution), sorted by name
    #   - row count
    #   - an ORDER-INDEPENDENT full-content digest:
    #       sum(hash(md5(concat_ws(US, coalesce(col::VARCHAR, RS)...))))
    #     over every row, computed by the SAME DuckDB expression over the
    #     spark parquet dump and over the oracle subquery — identical
    #     serialization by construction, O(1) client memory, streams under
    #     --noorder with no result buffering.
    # Weaker than the exact-order compare ONLY in row order (flagged
    # order_checked: false, witness: true in the --json artifact); content
    # coverage is 100% of cells, not a sample.
    witness = set()
    if "--witness" in argv:
        w = argv[argv.index("--witness") + 1]
        witness = set(dumped) if w == "all" else set(w.split(","))

    def witness_check(name, path):
        sql = oracles[name]
        gdesc = sorted((r[0], r[1]) for r in con.sql(
            f"DESCRIBE SELECT * FROM '{path}/*.parquet'").fetchall())
        odesc = sorted((r[0], r[1]) for r in timed(
            lambda: con.sql(f"DESCRIBE {sql}").fetchall()))
        if [c for c, _ in gdesc] != [c for c, _ in odesc]:
            results[name] = f"SCHEMA_MISMATCH spark={[c for c,_ in gdesc]} " \
                f"oracle={[c for c,_ in odesc]}"
            rec(name, err="schema mismatch", witness=True)
            return
        if gdesc != odesc:
            diffs = [f"{c}: spark={g} oracle={o}" for (c, g), (_, o)
                     in zip(gdesc, odesc) if g != o]
            results[name] = "TYPE_MISMATCH " + "; ".join(diffs)
            rec(name, schema_match=True, err="type mismatch", witness=True)
            return
        cols = ", ".join(
            'coalesce("%s"::VARCHAR, chr(30))' % c.replace('"', '""')
            for c, _ in gdesc)
        digest = f"md5(concat_ws(chr(31), {cols}))"
        agg = ("SELECT count(*)::HUGEINT AS n, "
               f"coalesce(sum(hash({digest})::HUGEINT), 0) AS h FROM ")
        gn, gh = con.sql(agg + f"'{path}/*.parquet'").fetchone()
        on, oh = timed(lambda: con.sql(agg + f"({sql})").fetchone())
        if gn != on:
            results[name] = f"ROWCOUNT {gn} vs {on} (witness)"
            rec(name, schema_match=True, spark_rows=int(gn),
                oracle_rows=int(on), err="rowcount mismatch", witness=True)
        elif gh != oh:
            results[name] = f"WITNESS_DIGEST_MISMATCH rows={gn} " \
                f"spark_h={gh} oracle_h={oh}"
            rec(name, rows_match=True, schema_match=True, spark_rows=int(gn),
                oracle_rows=int(on), err="content digest mismatch",
                witness=True)
        else:
            results[name] = f"OK_WITNESS rows={gn} (full-content " \
                "order-independent digest)"
            rec(name, rows_match=True, schema_match=True, hash_match=True,
                spark_rows=int(gn), oracle_rows=int(on),
                witness=True, order_checked=False)

    progress = "--progress" in argv
    for name in sorted(dumped):
        if progress:
            import time
            print(f"[...] {time.strftime('%H:%M:%S')} {name}",
                  file=sys.stderr, flush=True)
        path = os.path.join(outdir, name)
        if name in witness and name in oracles:
            try:
                witness_check(name, path)
            except Exception as e:
                label = OOM if is_oom(e) else "WITNESS_ERROR"
                results[name] = f"{label} {e}"
                rec(name, err=f"witness: {e}", witness=True)
            continue
        # guard the SPARK-DUMP read too: after a previous gate's oracle
        # OOM, DuckDB's memory accounting can stay poisoned and even an
        # 8-byte allocation for this scan throws — uncaught, it killed a
        # whole sf1 worker mid-sweep (observed r15: hb_fim_ids OOM, then
        # the NEXT gate's dump read raised and the remaining 7 gates
        # were never attempted). Record and keep sweeping.
        try:
            got_rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
            gcols, gtypes, grows = rows_of(got_rel)
        except Exception as e:
            # a dump read failing is the signature of a POISONED connection
            # (a previous gate's oracle OOM can leave DuckDB's memory
            # accounting broken so even an 8-byte allocation throws).
            # Reopen the connection (fresh views + settings) and retry once
            # — otherwise every remaining gate records a read error instead
            # of a real verdict. Fall back to record-and-continue.
            try:
                try:
                    con.close()
                except Exception:
                    pass
                con = setup_con()
                got_rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
                gcols, gtypes, grows = rows_of(got_rel)
                print(f"[oracle_check] reopened poisoned connection at "
                      f"{name}", file=sys.stderr, flush=True)
            except Exception as e2:
                results[name] = f"SPARK_DUMP_READ_ERROR {e2}"
                rec(name, err=f"spark dump read: {e2}")
                continue
        if name not in oracles:
            results[name] = f"ROWS_ONLY rows={len(grows)}" + \
                (" EMPTY!" if not grows else "")
            rec(name, rows_match=len(grows) > 0, schema_match=None,
                hash_match=None, spark_rows=len(grows))
            continue
        try:
            ocols, otypes, orows = timed(
                lambda: rows_of(con.sql(oracles[name])))
        except Exception as e:
            label = OOM if is_oom(e) else "ORACLE_SQL_ERROR"
            results[name] = f"{label} {e}"
            rec(name, spark_rows=len(grows),
                err=f"{'oracle oom' if is_oom(e) else 'oracle sql'}: {e}")
            continue
        if gcols != ocols:
            results[name] = f"SCHEMA_MISMATCH spark={gcols} oracle={ocols}"
            rec(name, rows_match=len(grows) == len(orows),
                spark_rows=len(grows), oracle_rows=len(orows),
                err="schema mismatch")
            continue
        # Typed-hash parity: the driver hashes cells WITH their types, so a
        # DuckDB HUGEINT (e.g. window SUM over BIGINT) vs Spark BIGINT is a
        # driver FAIL even when every value matches. Catch it here.
        if gtypes != otypes:
            diffs = [f"{c}: spark={g} oracle={o}"
                     for c, g, o in zip(gcols, gtypes, otypes) if g != o]
            results[name] = "TYPE_MISMATCH " + "; ".join(diffs)
            rec(name, rows_match=len(grows) == len(orows),
                schema_match=True, spark_rows=len(grows),
                oracle_rows=len(orows), err="type mismatch")
            continue
        if len(grows) != len(orows):
            results[name] = f"ROWCOUNT {len(grows)} vs {len(orows)}"
            rec(name, schema_match=True, spark_rows=len(grows),
                oracle_rows=len(orows), err="rowcount mismatch")
            continue
        if grows == orows:
            results[name] = f"OK rows={len(grows)}"
            rec(name, rows_match=True, schema_match=True, hash_match=True,
                spark_rows=len(grows), oracle_rows=len(orows))
            continue
        # diagnose: order-only mismatch vs value mismatch
        nkey = lambda row: tuple((v is None, v or "") for v in row)
        if sorted(grows, key=nkey) == sorted(orows, key=nkey):
            # under --noorder DuckDB may deliver even a top-level ORDER BY
            # result out of client order (observed: t_dpo_artifact sf0.3,
            # chunk boundary at row 2276) — the VALUES all match, only
            # DuckDB's delivery order broke. Count it as a sorted-compare
            # pass and say so; without the flag it stays a failure.
            if "--noorder" in argv:
                results[name] = f"OK_SORTED rows={len(grows)} " \
                    "(row order unchecked: --noorder)"
                rec(name, rows_match=True, schema_match=True,
                    hash_match=True, spark_rows=len(grows),
                    oracle_rows=len(orows))
                records[name]["order_checked"] = False
                if json_out:
                    with open(json_out, "w") as f:
                        json.dump(records, f, indent=1, sort_keys=True)
            else:
                rec(name, rows_match=True, schema_match=True,
                    spark_rows=len(grows), oracle_rows=len(orows),
                    err="value mismatch")
                results[name] = f"ORDER_ONLY_MISMATCH rows={len(grows)}"
            continue
        rec(name, rows_match=True, schema_match=True,
            spark_rows=len(grows), oracle_rows=len(orows),
            err="value mismatch")
        ndiff, example = 0, None
        for i, (g, o) in enumerate(zip(grows, orows)):
            if g != o:
                ndiff += 1
                if example is None:
                    example = (i, g, o)
        results[name] = f"VALUE_MISMATCH {ndiff}/{len(grows)} rows; " \
            f"first at row {example[0]}:\n  spark : {example[1]}\n  oracle: {example[2]}"
    if json_out:
        with open(json_out, "w") as f:
            json.dump(records, f, indent=1, sort_keys=True)
        print(f"[oracle_check] wrote {json_out} ({len(records)} gates)")
    bad = 0
    for name, res in sorted(results.items()):
        flag = "PASS" if res.startswith("OK") or res.startswith("ROWS_ONLY") else "FAIL"
        if flag == "FAIL":
            bad += 1
        print(f"[{flag}] {name}: {res}")
    # the limits an ORACLE_OOM line ran under
    memlimit = argv[argv.index("--memlimit") + 1] if "--memlimit" in argv \
        else "unset, DuckDB default"
    try:
        memlimit += ": " + con.sql(
            "SELECT current_setting('memory_limit')").fetchone()[0]
    except Exception:
        pass
    print(f"\nhost MemTotal {host_mem_total()}; DuckDB --memlimit {memlimit}")
    print(f"{len(results) - bad}/{len(results)} pass")
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    main()
