"""Config repository + watermark state store tests."""

import threading

import pytest
import pandas as pd

from bigdataingestion_spark.config.crypto import decrypt_value, encrypt_value
from bigdataingestion_spark.config.repository import ConfigRepository, merge_tables_list
from bigdataingestion_spark.config.state import TableLoadDetails


def test_config_roundtrip(tmp_path):
    repo = ConfigRepository(str(tmp_path / "configvalues.parquet"))
    assert repo.insert("dcx_postgresql_db_settings", "reliefvet_db_name", "reliefvet")
    # duplicate insert is a no-op (existence check, CFG:114-117)
    assert not repo.insert("DCX_postgresql_db_settings", "RELIEFVET_db_name", "x")
    assert repo.get_value("dcx_postgresql_db_settings", "reliefvet_db_name") == "reliefvet"
    repo.insert("dcx_postgresql_db_settings", "scribe_db_name", "scribe", is_active=True)
    assert repo.get_group("dcx_postgresql_db_settings") == {
        "reliefvet_db_name": "reliefvet",
        "scribe_db_name": "scribe",
    }
    repo.update_value("dcx_postgresql_db_settings", "scribe_db_name", "scribe2")
    assert repo.get_value("dcx_postgresql_db_settings", "scribe_db_name") == "scribe2"


def test_inactive_rows_filtered(tmp_path):
    repo = ConfigRepository(str(tmp_path / "c.parquet"))
    repo.insert("g", "dead", "v", is_active=False)
    assert repo.get_value("g", "dead") is None
    assert repo.get_value("g", "dead", active_only=False) == "v"


def test_merge_tables_list_prefixes_known_collisions():
    # CFG:76-90: a new table whose bare name is already a known source table
    # gets the task_ prefix
    out = merge_tables_list(
        existing_csv="Hospital,Status",
        new_tables="HospitalType, staging.Hospital",
        task="reliefvet",
        known_source_tables=["Hospital", "Status"],
    )
    assert out == "Hospital,Status,HospitalType,reliefvet_staging.Hospital"


def test_state_merge_update_and_insert(tmp_path):
    st = TableLoadDetails(str(tmp_path / "state.parquet"))
    assert st.get_last_load_date("s", "db", "events") is None
    # insert not allowed -> no-op (the reference's small-table path, ING:426)
    st.merge("s", "db", "events", "2024-01-05 00:00:00", insert_allowed=False)
    assert st.get_last_load_date("s", "db", "events") is None
    st.merge("s", "db", "Events", "2024-01-05 00:00:00", insert_allowed=True)
    assert st.get_last_load_date("s", "db", "EVENTS") == "2024-01-05 00:00:00"
    # matched update: no second row, LastLoadDate moves, id stable
    st.merge("s", "db", "events", "2024-02-01 12:00:00")
    df = pd.read_parquet(tmp_path / "state.parquet")
    assert len(df) == 1
    assert str(df.iloc[0]["LastLoadDate"]) == "2024-02-01 12:00:00"
    assert df.iloc[0]["tableloaddetailsid"] == 1
    # insert of a second table increments the surrogate key
    st.merge("s", "db", "orders", "2024-01-01", insert_allowed=True)
    df = pd.read_parquet(tmp_path / "state.parquet")
    assert sorted(df["tableloaddetailsid"]) == [1, 2]
    # SqlUpdatedDate NULL on insert (ING:413), set on update
    orders_row = df[df["TableName"] == "orders"].iloc[0]
    assert pd.isna(orders_row["SqlUpdatedDate"])
    events_row = df[df["TableName"] == "events"].iloc[0]
    assert not pd.isna(events_row["SqlUpdatedDate"])


def test_state_merges_from_two_threads_both_land(tmp_path, monkeypatch):
    """Two threads merging different tables: each read waits until both
    have read (or a second passes), so without the lock both would read the
    empty state and the second write would drop the first row."""
    st = TableLoadDetails(str(tmp_path / "state.parquet"))
    both_read = threading.Barrier(2, timeout=1)
    read = TableLoadDetails._read

    def slow_read(self):
        df = read(self)
        try:
            both_read.wait()
        except threading.BrokenBarrierError:
            pass
        return df

    monkeypatch.setattr(TableLoadDetails, "_read", slow_read)
    threads = [
        threading.Thread(
            target=st.merge,
            args=("s", "db", t, "2024-01-05"),
            kwargs={"insert_allowed": True},
        )
        for t in ("events", "orders")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    df = pd.read_parquet(tmp_path / "state.parquet")
    assert sorted(df["TableName"]) == ["events", "orders"]
    assert sorted(df["tableloaddetailsid"]) == [1, 2]


def test_crypto_roundtrip():
    ct = encrypt_value("s3cret", "p@ssw0rd")
    assert ct != "p@ssw0rd"
    assert decrypt_value("s3cret", ct) == "p@ssw0rd"
    # encrypt-then-MAC: wrong key is a clean auth failure, never garbage
    with pytest.raises(ValueError, match="authentication failed"):
        decrypt_value("other", ct)
