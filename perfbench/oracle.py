"""DuckDB checks of a run's outputs against the engine's own oracle SQL
(`graft.SparkEntry.oracleSql`, dumped by the run), compared with the
sorted-hash canonical form of tools/verify_local.py. Each check returns what
mismatched, with reasons; an empty result on both sides is a mismatch.
"""
import os
import sys
import threading

import duckdb


def _canon():
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from verify_local import canon
    return canon


class Checker:
    def __init__(self, out, deadline_s):
        self.out = out
        self.sql = __import__("json").load(open(f"{out}/oracle_sql.json"))
        self.canon = _canon()
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        self.timer = threading.Timer(deadline_s, self.con.interrupt)
        self.timer.start()
        self.mismatches = []

    def close(self):
        self.timer.cancel()
        self.con.close()

    def view(self, name, pattern):
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{pattern}')")

    def rows(self, sql):
        try:
            cur = self.con.execute(sql)
        except duckdb.InterruptException:
            raise RuntimeError("step 'DuckDB check' passed its deadline")
        return self.canon(cur.fetchall(), [d[0] for d in cur.description])

    def same(self, label, engine_sql, oracle_sql):
        e, o = self.rows(engine_sql), self.rows(oracle_sql)
        ok = e == o and len(e[1]) > 0
        if not ok:
            self.mismatches.append(f"{label}: engine {len(e[1])} rows {e[0]}, "
                                   f"oracle {len(o[1])} rows {o[0]}")
        return ok


def daily_rec(out, data, days, deadline_s):
    """The q23, q46, q19 and q24 oracles over the click log cut at each
    checked day, restricted to that day. Returns the days that mismatch."""
    c = Checker(out, deadline_s)
    bad = set()
    try:
        c.view("documents", f"{data}/docs/documents.parquet")
        for d in sorted(set(days)):
            c.view("events", f"{data}/cuts/{d}/events.parquet")
            checks = {
                "q23_rec_lists":
                    f"SELECT * FROM ({c.sql['q23_rec_lists']}) WHERE date = DATE '{d}'",
                "q46_precision_rec":
                    f"SELECT * FROM ({c.sql['q46_precision_rec']}) WHERE date = DATE '{d}'",
                "q19_hot_topics":
                    "SELECT day AS date, array_to_string(list(newsId ORDER BY rn), ',') AS news "
                    f"FROM ({c.sql['q19_hot_topics']}) WHERE day = DATE '{d}' GROUP BY day",
                "q24_precision_hot":
                    f"SELECT * FROM ({c.sql['q24_precision_hot']}) WHERE date = DATE '{d}'",
            }
            for q, oracle in checks.items():
                if not c.same(f"{q} {d}", f"SELECT * FROM read_parquet('{out}/{q}/{d}/*.parquet')",
                              oracle):
                    bad.add(d)
    finally:
        c.close()
    return bad, c.mismatches


def click_stream(out, data, sinks, deadline_s):
    """Final sinks up to each query's last committed batch: the closed day
    windows against the q36 daily counts, the attribution pairs against the
    q66 interval join, both over every landed slice."""
    c = Checker(out, deadline_s)
    try:
        c.view("events", f"{data}/landed/*.parquet")
        hot_batch, watermark = sinks["q36_streaming_hot"]
        join_batch, _ = sinks["q66_interval_join"]
        ok = c.same(
            "q36_streaming_hot",
            "SELECT CAST(w_start AS DATE) AS day, key AS newsId, n AS clicks FROM read_parquet("
            f"'{out}/q36_streaming_hot/*/*.parquet', hive_partitioning = true) "
            f"WHERE batch <= {hot_batch}",
            f"SELECT * FROM ({c.sql['q36_streaming_hot']}) "
            f"WHERE day + INTERVAL 1 DAY <= epoch_ms({int(float(watermark))})")
        ok &= c.same(
            "q66_interval_join",
            "SELECT userId, view_id, click_id, gap_us FROM read_parquet("
            f"'{out}/q66_interval_join/*/*.parquet', hive_partitioning = true) "
            f"WHERE batch <= {join_batch}",
            c.sql["q66_interval_join"])
    finally:
        c.close()
    return ok, c.mismatches

