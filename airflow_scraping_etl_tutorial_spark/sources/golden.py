"""Golden TWSE payloads — the reference's three manual test scenarios
(reference README.md:545-550; payload values captured from
dags/scrapy_develop.ipynb cell-2). Used by unit tests AND by the
oracle-checked catalog queries (plans/twse_queries.py), so the engine's
TWSE semantics sit under the same correctness gate as everything else.
"""

from __future__ import annotations

FIELDS = ["單位名稱", "買進金額", "賣出金額", "買賣差額"]

# A1 — normal trading day 2022-08-19 (full golden values, ipynb cell-2).
GOLDEN_OK = {
    "stat": "OK",
    "title": "111年08月19日 三大法人買賣金額統計表",
    "fields": FIELDS,
    "date": "20220819",
    "data": [
        ["自營商(自行買賣)", "2,279,109,983", "1,817,670,433", "461,439,550"],
        ["自營商(避險)", "5,567,838,537", "5,073,450,525", "494,388,012"],
        ["投信", "4,094,216,360", "2,519,550,872", "1,574,665,488"],
        ["外資及陸資", "52,999,169,995", "60,297,278,126", "-7,298,108,131"],
        ["合計", "64,940,334,875", "69,707,949,956", "-4,767,615,081"],
    ],
    "params": {"response": "json", "dayDate": "20220819"},
    "notes": ["自營商表示證券自營商專戶。"],
}

# Expected 13-column sink row for GOLDEN_OK (FIXTURES.md §A1).
GOLDEN_OK_EXPECTED = {
    "dt": "20220819",
    "dealer_buy": 2279109983,
    "dealer_sell": 1817670433,
    "dealer_dif": 461439550,
    "dealer_hedge_buy": 5567838537,
    "dealer_hedge_sell": 5073450525,
    "dealer_hedge_dif": 494388012,
    "investment_buy": 4094216360,
    "investment_sell": 2519550872,
    "investment_dif": 1574665488,
    "foreign_buy": 52999169995,
    "foreign_sell": 60297278126,
    "foreign_dif": -7298108131,
}

# A2 — market-closed day (2022-08-20, Saturday): stat is an error string,
# no usable data (reference routes to do_nothing, Final_app.py:29-32,94).
GOLDEN_CLOSED = {
    "stat": "很抱歉，沒有符合條件的資料!",
    "title": None,
    "fields": None,
    "date": "20220820",
    "data": None,
    "params": {"response": "json", "dayDate": "20220820"},
    "notes": None,
}

# A3 — format-drift day (models pre-IFRS 2010-01-06): stat OK but an
# extra category row -> cleaned arity 15 != 12 -> alert route
# (len(data)==12 gate, Final_app.py:53,71-76).
GOLDEN_WRONG_ARITY = {
    "stat": "OK",
    "title": "99年01月06日 三大法人買賣金額統計表",
    "fields": FIELDS,
    "date": "20100106",
    "data": [
        ["自營商", "1,000,000", "400,000", "600,000"],
        ["自營商(自行買賣)", "2,000,000", "500,000", "1,500,000"],
        ["自營商(避險)", "3,000,000", "600,000", "2,400,000"],
        ["投信", "4,000,000", "700,000", "3,300,000"],
        ["外資及陸資", "5,000,000", "800,000", "4,200,000"],
        ["合計", "15,000,000", "3,000,000", "12,000,000"],
    ],
    "params": {"response": "json", "dayDate": "20100106"},
    "notes": None,
}

# A4 — failed fetch (2022-08-22): no payload came back, the row that
# fetch_payloads_distributed yields when the HTTP call fails. Only the
# date is known; the load routes it to alert and the job exits 4 so
# Airflow retries.
GOLDEN_FAILED = {
    "stat": None,
    "title": None,
    "fields": None,
    "date": "20220822",
    "data": None,
    "params": None,
    "notes": None,
}
