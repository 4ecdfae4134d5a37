"""The end-to-end fraud-scoring pipeline — the Spark restatement of the
reference's main Flink topology (SURVEY §3.1, FraudDetectionJob.java:33-107).

One declarative DataFrame expression:
    transactions → broadcast-left-join profiles (J5)
                 → feature columns (§2.7 families, pure expressions)
                 → rule score (M1) → risk level + decision (F6)
                 → projections for the four sinks (alerts F3, enriched,
                   features F4)

The same function works on a batch DataFrame or a streaming one — the
topology is identical; streaming callers attach watermarks and sinks
(streaming/pipeline.py). The reference's per-record Redis RPCs
(TransactionProcessor.java:97-138) become one broadcast hash join; its ~62
eager per-record feature computations become columns Catalyst prunes to what
downstream actually reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import features as FF
from .functions import scoring as S


# profile column -> its name on the enriched row: the columns enrich reads
USER_PROFILE = {
    "created_at": "u_created_at",
    "kyc_status": "u_kyc_status",
    "risk_score": "u_risk_score",
    "avg_transaction_amount": "u_avg_amount",
    "device_fingerprints": "u_device_fps",
    "preferred_time_start": "u_pref_start",
    "preferred_time_end": "u_pref_end",
}
MERCHANT_PROFILE = {
    "name": "m_name",
    "category": "m_category",
    "risk_level": "m_risk_level",
    "avg_transaction_amount": "m_avg_amount",
    "fraud_rate": "m_fraud_rate",
    "is_blacklisted": "m_is_blacklisted",
    "operating_hours": "m_hours",
}


def enrich(tx: DataFrame, users: DataFrame, merchants: DataFrame) -> DataFrame:
    """J5 — profile enrichment with missing-profile defaults
    (TransactionProcessor.java:489-508: risk 0.5/medium, fraud_rate 0.05)."""
    u = F.broadcast(users.select(
        "user_id", *[F.col(c).alias(a) for c, a in USER_PROFILE.items()]
    ))
    m = F.broadcast(merchants.select(
        "merchant_id", *[F.col(c).alias(a) for c, a in MERCHANT_PROFILE.items()]
    ))
    out = tx.join(u, "user_id", "left").join(m, "merchant_id", "left")
    return (
        out.withColumn("u_risk_score", F.coalesce("u_risk_score", F.lit(0.5)))
        .withColumn("m_risk_level", F.coalesce("m_risk_level", F.lit("medium")))
        .withColumn("m_fraud_rate", F.coalesce("m_fraud_rate", F.lit(0.05)))
        .withColumn("m_is_blacklisted", F.coalesce("m_is_blacklisted", F.lit(False)))
        .withColumn("profile_found", F.col("u_kyc_status").isNotNull())
    )


def with_features(enriched: DataFrame) -> DataFrame:
    """§2.7 — the feature families as columns (FeatureExtractor.java:50-87)."""
    cols: dict[str, F.Column] = {}
    cols.update(FF.amount_features(F.col("amount"), F.col("u_avg_amount"), F.col("m_avg_amount")))
    cols.update(FF.temporal_features(F.col("ts")))
    intl_pref = (
        F.col("behavioral_patterns.international_transactions")
        if "behavioral_patterns" in enriched.columns
        else F.lit(0.05)
    )
    cols.update(
        FF.geo_features(
            F.col("geolocation.lat"),
            F.col("geolocation.lon"),
            F.col("merchant_location.lat"),
            F.col("merchant_location.lon"),
            intl_preference=intl_pref,
        )
    )
    cols.update(
        FF.device_features(
            F.col("ip_address"), F.col("user_agent"), F.col("device_fingerprint"), F.col("u_device_fps")
        )
    )
    cols.update(
        FF.merchant_features(
            F.col("m_name"),
            F.col("m_category"),
            F.col("m_risk_level"),
            F.col("m_fraud_rate"),
            F.col("m_is_blacklisted"),
            hour=F.hour("ts"),
            open_hour=F.col("m_hours.start_hour"),
            close_hour=F.col("m_hours.end_hour"),
        )
    )
    cols.update(FF.contextual_features(F.col("payment_method"), F.col("transaction_type")))
    cols.update(
        FF.user_features(
            F.col("u_created_at"), F.col("u_kyc_status"), F.col("u_risk_score"), now=F.col("ts")
        )
    )
    cols["in_user_preferred_time"] = FF.in_preferred_time(
        F.hour("ts"), F.coalesce("u_pref_start", F.lit(6)), F.coalesce("u_pref_end", F.lit(22))
    )
    cols["is_late_night"] = FF.is_late_night(F.col("ts"))
    out = enriched.withColumns(cols)
    # second pass: derived-from-derived (feature_processor.py:224-275)
    return out.withColumn(
        "combined_device_ip_risk",
        FF.combined_device_ip_risk(
            F.when(F.coalesce("is_new_device", F.lit(True)), 0.6).otherwise(0.2),
            F.col("ip_risk_score"),
        ),
    )


def with_score(featured: DataFrame) -> DataFrame:
    """M1 + F6 — rule score, risk level, decision
    (TransactionProcessor.java:327-473)."""
    score = S.rule_based_score(
        prior_score=F.coalesce("fraud_score", F.lit(0.0)),
        user_risk_score=F.col("user_risk_score"),
        is_new_account=F.coalesce("is_new_account", F.lit(False)),
        is_kyc_verified=F.coalesce("is_kyc_verified", F.lit(False)),
        merchant_risk_level=F.col("m_risk_level"),
        merchant_is_blacklisted=F.col("m_is_blacklisted"),
        merchant_fraud_rate=F.col("m_fraud_rate"),
        is_high_risk_category=F.coalesce("is_high_risk_category", F.lit(False)),
        is_large_for_user=F.coalesce("is_large_for_user", F.lit(False)),
        is_new_device=F.coalesce("is_new_device", F.lit(True)),
        is_night_time=F.col("is_night_time"),
        within_merchant_hours=F.coalesce("within_merchant_hours", F.lit(True)),
    )
    return (
        featured.withColumn("model_score", score)
        .withColumn(
            "risk_level", S.risk_level(F.col("model_score"), F.col("m_is_blacklisted"))
        )
        .withColumn("decision", S.decision(F.col("model_score"), F.col("m_is_blacklisted")))
    )


def score_transactions(tx: DataFrame, users: DataFrame, merchants: DataFrame) -> DataFrame:
    return with_score(with_features(enrich(tx, users, merchants)))


def fraud_alerts(scored: DataFrame, threshold: float = 0.7) -> DataFrame:
    """F1 + F3 — high-risk filter and alert projection
    (FraudDetectionJob.java:66-81, transaction.toFraudAlert())."""
    return scored.filter(F.col("model_score") > threshold).select(
        F.concat(F.lit("alert_"), "transaction_id").alias("alert_id"),
        "transaction_id",
        "user_id",
        F.col("model_score").alias("fraud_score"),
        "fraud_type",
        S.alert_level(F.col("model_score")).alias("alert_level"),
        "ts",
    )


def feature_vector(scored: DataFrame) -> DataFrame:
    """F4 — the transaction-features projection (FraudDetectionJob.java:96-100):
    numeric features as a map<string,double> mirroring the reference's
    features JSON payload (heterogeneous map split per SURVEY §7)."""
    numeric = [
        "amount",
        "amount_log",
        "amount_to_user_avg_ratio",
        "ip_risk_score",
        "user_risk_score",
        "merchant_fraud_rate",
        "distance_to_merchant_km",
        "model_score",
    ]
    pairs = []
    for c in numeric:
        pairs.extend([F.lit(c), F.col(c).cast("double")])
    return scored.select(
        "transaction_id", F.create_map(*pairs).alias("features"),
        F.to_json(F.create_map(*pairs)).alias("features_json"),
    )
