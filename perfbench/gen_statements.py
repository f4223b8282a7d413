"""Seeded statement-day tree for the etl_stream workload.

Each dated folder holds the six v1 platforms x four business types of
``tools/gen_statements.py`` (24 statements) plus two defect files: one
from an unknown platform and one known-platform file without its fund
code.  Amounts, shares, fees, fund codes and products are drawn from
the seed; the text templates are the generator's own, so the platform
matrix classifies them the same way.

``write_days`` also returns the ground-truth manifest: one row per file
with the values the ETL must extract from it.
"""
import os

import numpy as np

# (pinyin, signature line, amount label, fee label, date style)
PLATFORMS = [
    ("haomai", "【好买基金】交易确认单", "确认金额", "手续费", "cn"),
    ("tiantian", "天天基金网结算数据", "成交金额", "费用", "iso"),
    ("yingmi", "盈米财富对账单", "交易金额", "手续费", "slash"),
    ("jingdong", "京东肯特瑞交易回执", "确认金额", "手续费", "compact"),
    ("pingan", "平安银行代销确认", "发生金额", "费用合计", "dot"),
    ("changliang", "长量基金确认数据", "确认金额", "手续费", "iso"),
]
# (filename keyword, business label, biz code the classifier assigns)
BIZ = [
    ("shengouqueren", "申购确认", "CONF"),
    ("shengou", "申购", "SUB"),
    ("shuhui", "赎回", "RED"),
    ("fenhong", "分红", "DIV"),
]
PRODUCTS = ["安鑫回报混合A", "稳健增利债券C", "创新成长股票", "货币增值宝B",
            "价值精选混合", "量化对冲多策略"]
MANIFEST_FIELDS = ["file", "platform", "biz_type", "fund_code", "amount",
                   "fee", "trade_date", "valid"]


def fmt_date(d, style):
    y, m, dd = d[:4], d[4:6], d[6:8]
    return {"cn": f"{y}年{m}月{dd}日", "iso": f"{y}-{m}-{dd}",
            "slash": f"{y}/{m}/{dd}", "compact": d, "dot": f"{y}.{m}.{dd}"}[style]


def money(cents):
    return f"{cents // 100:,}.{cents % 100:02d}"


def body(sig, product, code, biz_label, amt_label, fee_label, date_label,
         amount_c, shares_c, fee_c, include_code=True):
    lines = [sig, f"产品名称：{product}"]
    if include_code:
        lines.append(f"基金代码：{code:06d}")
    lines += [f"业务类型：{biz_label}", f"{amt_label}：{money(amount_c)}",
              f"确认份额：{money(shares_c)}", f"{fee_label}：{money(fee_c)}",
              f"确认日期：{date_label}"]
    return "\n".join(lines) + "\n"


def day_names(seed, n_days):
    """n_days consecutive YYYYMMDD folder names from a seed-chosen start."""
    start = np.datetime64("2024-01-01") + int(np.random.default_rng(seed).integers(0, 300))
    return [str(start + i).replace("-", "") for i in range(n_days)]


def write_days(root, seed, n_days):
    """Write n_days dated folders under root; return the manifest rows."""
    rng = np.random.default_rng([seed, 104729])
    rows = []
    for d in day_names(seed, n_days):
        folder = os.path.join(root, d)
        os.makedirs(folder, exist_ok=True)
        files = []
        for pin, sig, amt_label, fee_label, style in PLATFORMS:
            for bkey, blabel, bcode in BIZ:
                amount_c = int(rng.integers(10_000_00, 5_000_000_00))
                fee_c = amount_c * int(rng.integers(5, 20)) // 10000
                code = int(rng.integers(1, 1000))
                files.append((f"{pin}_{bkey}_{d}.txt", pin, bcode, code, True,
                              body(sig, PRODUCTS[int(rng.integers(0, 6))], code,
                                   blabel, amt_label, fee_label,
                                   fmt_date(d, style), amount_c,
                                   amount_c * 2 // 3, fee_c),
                              amount_c, fee_c))
        # defect 1: unknown platform signature -> UNKNOWN, invalid
        amount_c, code = int(rng.integers(10_000_00, 900_000_00)), int(rng.integers(1, 1000))
        files.append((f"weizhi_shengou_{d}.txt", "UNKNOWN", "SUB", code, False,
                      body("未知平台数据", PRODUCTS[0], code, "申购", "确认金额",
                           "手续费", fmt_date(d, "iso"), amount_c,
                           amount_c * 2 // 3, amount_c // 1000),
                      amount_c, amount_c // 1000))
        # defect 2: known platform, fund-code line missing -> invalid
        pin, sig, amt_label, fee_label, style = PLATFORMS[int(rng.integers(0, 6))]
        amount_c = int(rng.integers(10_000_00, 900_000_00))
        files.append((f"{pin}_shuhui_nocode_{d}.txt", pin, "RED", None, False,
                      body(sig, PRODUCTS[1], 0, "赎回", amt_label, fee_label,
                           fmt_date(d, style), amount_c, amount_c * 2 // 3,
                           amount_c // 1000, include_code=False),
                      amount_c, amount_c // 1000))
        for name, platform, biz, code, valid, text, amount_c, fee_c in files:
            with open(os.path.join(folder, name), "w", encoding="utf-8") as f:
                f.write(text)
            rows.append({"file": name, "platform": platform, "biz_type": biz,
                         "fund_code": None if code is None else f"{code:06d}",
                         "amount": amount_c, "fee": fee_c, "trade_date": d,
                         "valid": valid})
    return rows
