"""Correctness gate that does not use the engine's compaction code.

The reference state is computed by DuckDB straight from the journal
parquet the benchmark published: last writer wins per ``url`` over the
data entries of the included table, ordered by ``(receiver_idx,
seq)``; a delete as last writer removes the row. Snapshot rows (from
the pages source table) stand for urls no later entry touched.
``text`` is recomputed from the reference html with the package's
public ``functions.decode.extract_text_pd``.

Every state column is compared: url, warc_ts, html, text, lang,
receiver_idx, seq (html and text by md5). A mismatched key is charged
to the receiver holding that key's reference last writer, so the gate
reports which published receivers were not applied.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

DATA_TYPES = ("PT", "PX", "UP", "DL", "DR")
DELETE_TYPES = ("DL", "DR")
COLUMNS = ["url", "warc_ts_us", "html_md5", "text_md5", "lang", "receiver_idx", "seq"]


def _md5(b) -> str | None:
    if b is None:
        return None
    if isinstance(b, str):
        b = b.encode("utf-8")
    return hashlib.md5(bytes(b)).hexdigest()


class Reference:
    """Last-writer-wins reference over a set of published receivers."""

    def __init__(self, journal_dir: str, table: str, pages_path: str | None = None):
        self.journal_dir = journal_dir.rstrip("/")
        self.table = table
        self.pages_path = pages_path
        self._pages = None
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")

    def _files(self, receivers) -> list[str]:
        import glob

        out = []
        for r in sorted(receivers):
            out.extend(sorted(glob.glob(f"{self.journal_dir}/receiver_idx={r}/*.parquet")))
        return out

    def last_writers(self, receivers) -> pd.DataFrame:
        """One row per url: the last data entry (deletes included)."""
        files = self._files(receivers)
        if not files:
            return pd.DataFrame(
                columns=["url", "warc_ts_us", "html", "lang", "receiver_idx", "seq", "entry_type"]
            )
        q = f"""
            SELECT url, epoch_us(warc_ts) AS warc_ts_us, html, lang,
                   CAST(receiver_idx AS INTEGER) AS receiver_idx,
                   seq, entry_type
            FROM read_parquet(?, hive_partitioning = true)
            WHERE journal_code = 'R'
              AND entry_type IN {DATA_TYPES}
              AND table_name = ?
              AND NOT starts_with(table_name, 'QSYS')
            QUALIFY row_number() OVER (
                PARTITION BY url ORDER BY receiver_idx DESC, seq DESC) = 1
        """
        return self.con.execute(q, [files, self.table]).df()

    def state(self, receivers) -> pd.DataFrame:
        """Reference table state after applying ``receivers`` on top
        of the snapshot (if any)."""
        last = self.last_writers(receivers)
        live = last[~last["entry_type"].isin(DELETE_TYPES)].drop(columns=["entry_type"])
        parts = [live]
        if self.pages_path is not None:
            if self._pages is None:
                self._pages = self.con.execute(
                    """
                    SELECT url, epoch_us(warc_ts) AS warc_ts_us, html, lang,
                           -1 AS receiver_idx, CAST(-1 AS BIGINT) AS seq
                    FROM read_parquet(?)
                    """,
                    [f"{self.pages_path.rstrip('/')}/*.parquet"],
                ).df()
            parts.append(self._pages[~self._pages["url"].isin(last["url"])])
        return pd.concat(parts, ignore_index=True)

    def keyed(self, receivers, with_text: bool = True) -> pd.DataFrame:
        """Reference state with html/text reduced to md5, indexed by
        url (``text_md5`` left empty when ``with_text`` is False)."""
        from debezium_connector_ibmi_spark.functions.decode import extract_text_pd

        st = self.state(receivers)
        html = st["html"].map(lambda b: None if b is None else bytes(b))
        text = extract_text_pd(html) if with_text else pd.Series([None] * len(st))
        out = pd.DataFrame(
            {
                "url": st["url"],
                "warc_ts_us": st["warc_ts_us"].astype("int64"),
                "html_md5": html.map(_md5),
                "text_md5": text.map(_md5),
                "lang": st["lang"],
                "receiver_idx": st["receiver_idx"].astype("int64"),
                "seq": st["seq"].astype("int64"),
            }
        )
        return out.set_index("url", drop=False)

    def close(self) -> None:
        self.con.close()


def target_keyed(target) -> pd.DataFrame:
    """The engine's target state with html/text reduced to md5."""
    from pyspark.sql import functions as F

    df = target.read()
    if df is None:
        return pd.DataFrame(columns=COLUMNS).set_index("url", drop=False)
    pdf = df.select(
        "url",
        F.unix_micros("warc_ts").alias("warc_ts_us"),
        F.md5("html").alias("html_md5"),
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        "lang",
        F.col("receiver_idx").cast("long").alias("receiver_idx"),
        F.col("seq").cast("long").alias("seq"),
    ).toPandas()
    return pdf.set_index("url", drop=False)


def compare(expected: pd.DataFrame, actual: pd.DataFrame) -> list[str]:
    """Urls whose rows differ in any state column (or exist on one
    side only)."""
    bad = set(expected.index.symmetric_difference(actual.index))
    common = expected.index.intersection(actual.index)
    if len(actual.index) != len(set(actual.index)):
        dup = actual.index[actual.index.duplicated()]
        bad |= set(dup)
        actual = actual[~actual.index.duplicated()]
    e = expected.loc[common, COLUMNS[1:]]
    a = actual.loc[common, COLUMNS[1:]]
    diff = (e.fillna("<null>").astype(str) != a.fillna("<null>").astype(str)).any(axis=1)
    bad |= set(diff[diff].index)
    return sorted(bad)


def charge(ref: Reference, receivers, urls: list[str]) -> set:
    """Receivers (or "snapshot") whose last-writer entry for a
    mismatched url is not reflected in the target."""
    if not urls:
        return set()
    last = ref.last_writers(receivers).set_index("url")
    out = set()
    for u in urls:
        out.add(int(last.loc[u, "receiver_idx"]) if u in last.index else "snapshot")
    return out


def check_point(expected: pd.DataFrame, url: str, got: tuple | None) -> bool:
    """A point read returned (receiver_idx, seq, html_md5) or None."""
    if url not in expected.index:
        return got is None
    row = expected.loc[url]
    return got is not None and (
        int(got[0]) == int(row["receiver_idx"])
        and int(got[1]) == int(row["seq"])
        and got[2] == row["html_md5"]
    )
